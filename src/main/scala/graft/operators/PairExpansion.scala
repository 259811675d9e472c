package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Posting-list pair expansion: for every pair of items that share a key,
  * how many keys they share — basket co-purchase pairs (items = parts,
  * keys = orders), near-duplicate candidates (items = documents, keys =
  * shingles or fingerprints), the part co-purchase graph's edges.
  *
  * ONE exchange groups each key's items into an array, and the pairs
  * expand LOCALLY in the task that owns the key (two chained generators
  * + a filter), replacing the distinct + self-join plan that shuffled the
  * same rows twice just to rediscover key membership. Pair counts are
  * map-side-combined before the only other exchange.
  *
  * Fan-out per key is the square of its item count. Under `dfCap` a key
  * carried by more than `dfCap` rows is dropped inside the partition,
  * BEFORE the pair exchange (REPOSE, ICDE 2021: prune before the
  * shuffle), bounding the fan-out at dfCap² per key; keys with one item
  * are dropped too (they emit no pair either way). Dropping a key only
  * removes shared-key evidence, so every count is ≤ the uncapped count.
  *
  * `asSet` collects each key's DISTINCT items (callers whose rows may
  * repeat an item under a key); otherwise items are taken as given.
  * `directed` emits both (a, b) and (b, a); otherwise only a < b.
  * Returns (a, b, n).
  */
object PairExpansion {

  def counts(rows: DataFrame, key: Column, item: Column, asSet: Boolean,
             directed: Boolean, dfCap: Option[Int]): DataFrame = {
    val items = (if (asSet) collect_set(item) else collect_list(item))
      .as("ids")
    val lists = dfCap.fold(rows.groupBy(key).agg(items)) { cap =>
      rows.groupBy(key).agg(count(lit(1)).as("df_docs"), items)
        .filter(col("df_docs") <= cap && col("df_docs") >= 2)
    }
    lists
      .select(explode(col("ids")).as("a"), col("ids"))
      .select(col("a"), explode(col("ids")).as("b"))
      .filter(if (directed) col("a") =!= col("b") else col("a") < col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("n"))
  }
}
