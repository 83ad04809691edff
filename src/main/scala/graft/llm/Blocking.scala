package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The steps every near-duplicate candidate path composes (key-blocking,
  * *Mining of Massive Datasets* ch. 3): canonicalize identical
  * signatures, cap hot keys, self-join within a key, expand groups to id
  * pairs. MinHash bands, SimHash chunks, shingles, winnowing
  * fingerprints and sign-LSH buckets differ only in the key; the shapes
  * that keep each stage bounded at scale are written here once. */
object Blocking {

  /** Identical `sig` values collapse to one group: (__sig, __ids sorted
    * ascending, __rep = the smallest id). A d-duplicated signature then
    * costs one row in the key join instead of d, and d²-fold fewer
    * candidate rows (SCALE.md §10a); the ids array is bounded by
    * per-signature duplication. */
  def canonical(df: DataFrame, idCol: String, sig: Column): DataFrame =
    df.groupBy(sig.as("__sig"))
      .agg(sort_array(collect_list(col(idCol))).as("__ids"))
      .withColumn("__rep", element_at(col("__ids"), 1))

  /** `df` without the keys whose weight `n` (default: the row count)
    * exceeds `cap` — no window: a window on the key would route a hot
    * key's rows to one partition before the cap could drop them.
    * `groupBy` combines map-side (one partial per key and partition),
    * the over-cap set is tiny by construction, and a broadcast anti-join
    * removes it with no skewed exchange. */
  def capHot(df: DataFrame, keys: Seq[String], cap: Long,
             n: Column = count(lit(1))): DataFrame = {
    val hot = df.groupBy(keys.map(col): _*).agg(n.as("__n"))
      .filter(col("__n") > cap)
      .select(keys.map(col): _*)
    df.join(broadcast(hot), keys, "left_anti")
  }

  /** One row per band: `df`'s `carry` columns plus (band = j, `name` =
    * `keys(j)`). OR-amplified blocking — a pair is a candidate if it
    * collides in ANY band — at the cost of `keys.size` map-side key
    * columns, never an extra scan. */
  def banded(df: DataFrame, name: String, keys: Seq[Column],
             carry: String*): DataFrame =
    df.select(carry.map(col) :+ explode(array(keys.zipWithIndex.map {
        case (k, j) => struct(lit(j).as("band"), k.as(name))
      }: _*)).as("__bk"): _*)
      .select(carry.map(col) :+ col("__bk.band").as("band") :+
        col(s"__bk.$name").as(name): _*)

  /** Every pair of `df` rows sharing `keys`: each side carries `cols`
    * suffixed `_a` / `_b`, and a pair is kept where `keep` holds on the
    * first of them (default `_a < _b`: each unordered pair once). The
    * self-join shuffles once on the keys; key sizes bound the pair
    * blow-up, which is the point of blocking. */
  def selfJoin(df: DataFrame, keys: Seq[String], cols: Seq[String],
               keep: (Column, Column) => Column = _ < _): DataFrame = {
    def side(s: String) =
      df.select(keys.map(col) ++ cols.map(c => col(c).as(c + s)): _*)
    side("_a").join(side("_b"), keys)
      .filter(keep(col(cols.head + "_a"), col(cols.head + "_b")))
  }

  /** The id_a < id_b pairs inside each row's sorted `ids` array, with
    * `carry` alongside. Two CHAINED explodes, not one flattened
    * d²/2-element array: a d-id group materializes rows of at most d ids
    * (the d² pair volume is inherent output; one in-row array of it is
    * not survivable for large d). */
  def withinPairs(groups: DataFrame, ids: String, carry: String*): DataFrame =
    groups.select(col(ids) +: carry.map(col) :+
        posexplode(col(ids)).as(Seq("__i", "id_a")): _*)
      .select(col("id_a") +: explode(slice(col(ids), col("__i") + lit(2),
          greatest(size(col(ids)) - col("__i") - 1, lit(0)))).as("id_b") +:
        carry.map(col): _*)

  /** A [[selfJoin]] of [[canonical]] groups, (__ids_a, __ids_b, carry),
    * expanded to its id pairs map-side: distinct groups are disjoint id
    * sets, so every (a, b) orders with least/greatest. */
  def crossPairs(groupPairs: DataFrame, carry: String*): DataFrame =
    groupPairs
      .select(col("__ids_b") +: carry.map(col) :+
        explode(col("__ids_a")).as("__a"): _*)
      .select(col("__a") +: carry.map(col) :+
        explode(col("__ids_b")).as("__b"): _*)
      .select(least(col("__a"), col("__b")).as("id_a") +:
        greatest(col("__a"), col("__b")).as("id_b") +: carry.map(col): _*)
}
