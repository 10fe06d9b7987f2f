#!/usr/bin/env python3
"""Count non-comment, non-blank source lines.

    python3 tools/ncloc.py [--files] [PATH ...]

PATHs are files or directories (searched for *.scala, *.java and *.py);
the default is src/main. A line counts when it holds at least one
character outside comments and whitespace. Scala/Java comments are `//`
to end of line and `/* ... */` blocks (nested, as Scala allows); Python
comments are `#` to end of line. Comment markers inside string and
character literals are not comments. Prints the total, and with
--files one `count path` line per file before it.
"""
import os
import sys

EXTS = (".scala", ".java", ".py")


def code_lines_c(text):
    """Lines of C-family source holding code (Scala nests /* */)."""
    lines = set()
    i, n, line, depth = 0, len(text), 0, 0
    while i < n:
        c = text[i]
        if c == "\n":
            line += 1
            i += 1
        elif depth > 0:
            if text.startswith("/*", i):
                depth += 1
                i += 2
            elif text.startswith("*/", i):
                depth -= 1
                i += 2
            else:
                i += 1
        elif text.startswith("//", i):
            j = text.find("\n", i)
            i = n if j < 0 else j
        elif text.startswith("/*", i):
            depth = 1
            i += 2
        elif text.startswith('"""', i):
            j = text.find('"""', i + 3)
            j = n if j < 0 else j + 3
            while j < n and text[j] == '"':  # """a"""" ends at the last quote
                j += 1
            for k in range(line, line + text.count("\n", i, j) + 1):
                lines.add(k)
            line += text.count("\n", i, j)
            i = j
        elif c == '"':
            lines.add(line)
            i += 1
            while i < n and text[i] not in '"\n':
                i += 2 if text[i] == "\\" else 1
            i += 1 if i < n and text[i] == '"' else 0
        elif c == "'" and text[i + 1:i + 2] == "\\":  # '\n', 'A'
            lines.add(line)
            j = text.find("'", i + 2)
            i = n if j < 0 else j + 1
        elif c == "'" and text[i + 2:i + 3] == "'":  # 'a'
            lines.add(line)
            i += 3
        else:
            if not c.isspace():
                lines.add(line)
            i += 1
    return len(lines)


def code_lines_py(text):
    """Lines of Python source holding code (strings kept as code)."""
    count = 0
    for raw in text.splitlines():
        s = raw.strip()
        if s and not s.startswith("#"):
            count += 1
    return count


def count(path):
    with open(path, encoding="utf-8") as f:
        text = f.read()
    return code_lines_py(text) if path.endswith(".py") else code_lines_c(text)


def sources(paths):
    for p in paths:
        if os.path.isfile(p):
            yield p
            continue
        for root, _, names in sorted(os.walk(p)):
            for name in sorted(names):
                if name.endswith(EXTS):
                    yield os.path.join(root, name)


def main(argv):
    show = "--files" in argv
    paths = [a for a in argv if a != "--files"] or ["src/main"]
    total = 0
    for path in sources(paths):
        c = count(path)
        total += c
        if show:
            print(f"{c:7d} {path}")
    print(f"{total:7d} total")


if __name__ == "__main__":
    main(sys.argv[1:])
