package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Crawl-frontier scheduling: order the fetch queue so that domains
  * interleave round-robin — the politeness discipline (one in-flight
  * fetch per host, maximal spacing between same-host fetches) that a
  * crawler needs BEFORE the queue is sharded to fetchers.
  *
  * Semantics: every url gets a `round` (its rank within its domain
  * under the deterministic md5(url) shuffle order) and a global
  * position `pos` = all earlier rounds' sizes + its rank within its
  * round. That is exactly the total order (round, md5(url), url) — a
  * single global row_number() — but computed WITHOUT a global sort:
  * ranks are per-round windows (parallel across rounds), and the
  * round offsets come from one tiny aggregation (|rounds| = max urls
  * per domain) broadcast back. Within a round every domain appears at
  * most once, which is the politeness invariant.
  *
  * Determinism: md5 is the engine-shared shuffle order, url the final
  * tiebreak — the schedule is replayable and stable under
  * repartitioning, retries, and corpus growth within a domain's tail.
  */
object Frontier {

  /** Frontier discovery (seed expansion): absolute link targets that
    * are NOT in the corpus — the next crawl's candidate queue, with
    * per-url reference counts as the naive priority signal. One
    * explode + one anti-join on the url string + one hash aggregation;
    * the known-url side is the corpus' distinct url set
    * (hash-partitioned at scale, never collected).
    */
  def discover(pages: DataFrame, htmlCol: String, urlCol: String): DataFrame = {
    val known = pages.select(col(urlCol).as("__known")).distinct()
    pages
      .select(explode(TextOps.extractLinks(col(htmlCol))).as("dst_url"))
      .where(TextOps.isAbsoluteUrl(col("dst_url")))
      .join(known, col("dst_url") === col("__known"), "left_anti")
      .groupBy(col("dst_url"))
      .agg(count(lit(1)).as("n_refs"))
  }

  def schedule(df: DataFrame, urlCol: String, domainCol: String): DataFrame = {
    val byDomain = Window.partitionBy(col(domainCol))
      .orderBy(md5(col(urlCol)).asc, col(urlCol).asc)
    val withRound = df.select(col(urlCol), col(domainCol))
      .withColumn("round", row_number().over(byDomain).cast("long"))
      // EAGER checkpoint: withRound feeds BOTH the round-size
      // aggregate (-> offsets broadcast) and the final in-round
      // window join — unmaterialized, the caller's whole upstream
      // (q168: frontier discovery + robots anti-join + the per-domain
      // window) is planned and executed twice (the q168 plan showed
      // the full subtree duplicated). Multi-consumer setup tables are
      // checkpointed eagerly. Unlike the other eager checkpoints
      // (candidate-, bucket- or vocabulary-sized tables), this one is
      // O(input): one row per frontier URL, pinned in executor storage
      // with its lineage cut, so losing an executor loses the table.
      .localCheckpoint()
    val roundSizes = withRound.groupBy(col("round"))
      .agg(count(lit(1)).as("__n"))
    val wCum = Window.orderBy(col("round").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = roundSizes
      .withColumn("__off", coalesce(sum(col("__n")).over(wCum), lit(0L)))
      .select(col("round"), col("__off"))
    val inRound = Window.partitionBy(col("round"))
      .orderBy(md5(col(urlCol)).asc, col(urlCol).asc)
    withRound
      .withColumn("__p", row_number().over(inRound).cast("long"))
      .join(broadcast(offsets), "round")
      .select(col(urlCol), col(domainCol), col("round"),
        (col("__off") + col("__p")).as("pos"))
  }
}
