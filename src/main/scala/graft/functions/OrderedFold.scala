package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{aggregate, collect_list, lit,
  sort_array, struct, transform}

/** The engine's bit-reproducibility contract for per-group folds, stated
  * once. Floating-point addition is not associative, so a plain `sum`
  * over a group depends on the order in which the map-side splits
  * deliver its rows — a different partitioning, a different last bit.
  * Every floating-point Σ the oracle hashes, the golden bytes and the
  * RetrievalSpec bitwise pins depend on is therefore taken in ONE fixed
  * order that is a pure function of the data:
  *
  *   1. collect the group's `struct(keys…, value)` (aggregate columns —
  *      use inside `groupBy(...).agg(...)`);
  *   2. sort them ascending by Spark's struct ordering: the keys left to
  *      right, then the value;
  *   3. add left to right from a 0.0 seed ([[sum]]), or hand the sorted
  *      values to the caller's own fold ([[values]]).
  *
  * The value is the LAST struct field on purpose: rows whose keys tie
  * then break on the value itself, so rows that still compare equal are
  * interchangeable. (Among distinct doubles Spark's ordering equates
  * only `-0.0` with `0.0`; a sum seeded with `+0.0` gets the same bits
  * whichever of the two comes first, and [[values]] may list them in
  * either order.) A derived value is fine wherever it preserves that
  * order, e.g. `sum(n / d, d, n)` sorts exactly as `(d, n)`. Nulls sort
  * first (Spark's ascending default); a null value is kept —
  * `collect_list` drops only null structs — so it makes the sum null.
  * NaN sorts last and propagates. An empty group (`groupBy()` over no
  * rows) sums to 0.0.
  *
  * The seed is 0.0, so a leading `-0.0` becomes `+0.0`. Folds that must
  * keep DuckDB `list_reduce` semantics — the first element as the seed
  * (`QualityLr.orderedFold`, `Pca.orderedArraySum`) — build on [[values]].
  *
  * No key may be a column named `__v` (the value's field name).
  */
object OrderedFold {

  private def sorted(value: Column, keys: Seq[Column]): Column =
    sort_array(collect_list(struct(keys :+ value.as("__v"): _*)))

  /** The group's values in ascending `(keys…, value)` order. */
  def values(value: Column, keys: Column*): Column =
    transform(sorted(value, keys), x => x.getField("__v"))

  /** Σ of the group's values, added left to right from 0.0 in ascending
    * `(keys…, value)` order.
    */
  def sum(value: Column, keys: Column*): Column =
    aggregate(sorted(value, keys), lit(0.0), (a, x) => a + x.getField("__v"))
}
