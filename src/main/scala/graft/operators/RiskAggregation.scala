package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.model.{CountRow, LogEntry}

/** The flagship aggregation pipeline (SURVEY.md §2 ops 6-11).
  *
  * Reference semantics (reference main.py:203-229, pinned by
  * tests/aggregation_tests.py:94-351):
  *
  *  1. project `(ip, date_trunc('day', date), risk, asn, country)`
  *  2. `DISTINCT` over the whole 5-tuple (the reference's `DISTINCT (ip), …`
  *     parses as a plain SELECT DISTINCT — parens are decoration)
  *  3. `GROUP BY date, asn, risk, country` + `count(*)`
  *  4. `HAVING count(*) > threshold` (strictly greater, despite the "at
  *     least" comment at reference main.py:215)
  *  5. `ORDER BY date DESC, country ASC, asn ASC, risk ASC`
  *  6. update-join against `dim_risk`: matched rows get
  *     `count * amplification_factor` (NULL factor → NULL), unmatched rows
  *     keep the `0` placeholder
  *
  * Scale notes (100 TB posture): the distinct→count pair is planned by
  * Catalyst as partial/final HashAggregates — map-side dedup shrinks data
  * before either shuffle, so the plan is two exchanges over already-reduced
  * data. The global sort runs on post-HAVING aggregated output (bounded),
  * never the raw feed. The dimension join is an explicit broadcast: dim_risk
  * is KB-sized, so no shuffle touches the fact side.
  */
object RiskAggregation {

  /** Op 5's output order (reference main.py:217). */
  private def referenceOrder: Seq[Column] = Seq(col("date").desc,
    col("country").asc, col("asn").asc, col("risk").asc)

  /** Ops 6-7: project to the dedup tuple and truncate the timestamp to day.
    * Catalyst pushes the projection into the scan (column pruning), so a
    * parquet-backed feed only reads these five columns.
    */
  def dailyTuples(logentry: DataFrame): DataFrame =
    logentry
      .select(
        col("ip"),
        date_trunc("day", col("date")).as("date"),
        col("risk"), col("asn"), col("country"))
      .distinct()

  /** Ops 8-10: count distinct hosts per (day, asn, risk, country), keep
    * groups strictly above `threshold`, order for the output artifact.
    *
    * @param threshold `country_count_threshold` (reference main.py:64-67,
    *                  default 100; test config uses 0)
    */
  def aggregate(logentry: DataFrame, threshold: Long = 100L): DataFrame =
    dailyTuples(logentry)
      .groupBy(col("date"), col("asn"), col("risk"), col("country"))
      .agg(count(lit(1)).as("count"))
      .where(col("count") > threshold)
      .withColumn("count_amplified", lit(0.0))
      .select("date", "risk", "country", "asn", "count", "count_amplified")
      .orderBy(referenceOrder: _*)

  /** Op 11: the amplified-count update-join (reference main.py:219-229).
    * Left join so unmatched rows keep the 0 placeholder; matched rows take
    * `count * amplification_factor`, which propagates a NULL factor to NULL
    * (pinned by reference tests/aggregation_tests.py:278-351).
    *
    * `dim_risk` is explicitly broadcast — it is a KB-sized dimension, and at
    * 100 TB the fact side must not shuffle for this join.
    */
  def amplify(counts: DataFrame, dimRisk: DataFrame): DataFrame = {
    val dim = broadcast(
      dimRisk.select(col("id"), col("amplification_factor")))
    counts
      .join(dim, counts("risk") === dim("id"), "left")
      .withColumn("count_amplified",
        when(dim("id").isNotNull,
          col("count") * col("amplification_factor"))
          .otherwise(col("count_amplified")))
      .drop("id", "amplification_factor")
  }

  /** Full pipeline: aggregate then amplify, in op 5's order. The sort
    * is applied AFTER the amplify join: a join does not keep its
    * input's order, and Catalyst's EliminateSorts drops a Sort below a
    * join outright, so [[aggregate]]'s own ordering does not survive
    * [[amplify]]. */
  def run(logentry: DataFrame, dimRisk: DataFrame,
      threshold: Long = 100L): DataFrame =
    amplify(aggregate(logentry, threshold), dimRisk)
      .orderBy(referenceOrder: _*)

  /** Generic form of the same pipeline over any event-shaped table:
    * `projected` must already contain the dedup-key and group columns; dedup
    * the whole tuple, then count per `groupCols`, then threshold. Used to
    * express the flagship over the shared `events` testdata
    * (ts/user_id/event_type ≅ date/ip/risk — FIXTURES.md §7).
    */
  def distinctCount(projected: DataFrame, groupCols: Seq[String],
      threshold: Long): DataFrame =
    projected
      .distinct()
      .groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("count"))
      .where(col("count") > threshold)

  /** Typed variant of ops 6-9 over `Dataset[LogEntry]` → typed
    * `Dataset[CountRow]` — compile-time field checks on the core records
    * (SURVEY.md §1). Same physical plan as [[aggregate]]: the typed API
    * here only changes the compile-time view, not the Catalyst plan.
    */
  def aggregateTyped(logentry: Dataset[LogEntry],
      threshold: Long = 100L): Dataset[CountRow] = {
    import logentry.sparkSession.implicits._
    aggregate(logentry.toDF(), threshold).as[CountRow]
  }

  /** Skew-safe exact distinct count: salt the distinct column into
    * `salts` disjoint hash buckets, count distinct per (group, salt), then
    * sum the per-salt counts. Correct because the hash partitions each
    * group's distinct values disjointly across salts.
    *
    * Use when one group key (e.g. a hot (day, country)) holds so many
    * DISTINCT values that the per-group reduce of the plain plan
    * concentrates on one task. Spark's partial aggregation already
    * map-side-dedups plain [[aggregate]]; this is the escape hatch for the
    * residual hot-reducer case at 100 TB.
    */
  def skewSafeDistinctCount(df: DataFrame, groupCols: Seq[String],
      distinctCol: String, salts: Int = 64): DataFrame =
    df
      .groupBy(groupCols.map(col) :+
        pmod(xxhash64(col(distinctCol)), lit(salts)).as("_salt"): _*)
      .agg(countDistinct(col(distinctCol)).as("_partial"))
      .groupBy(groupCols.map(col): _*)
      .agg(sum(col("_partial")).as("count"))
}
