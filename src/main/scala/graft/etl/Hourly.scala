package graft.etl

import graft.operators.hourKey
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import scala.collection.MapView

/** The hourly Dune-integration export — the reference's
  * `dump_dune_hour` (substrateetl.js:3455-3620: per (chain, day, hour),
  * export blocks/extrinsics/calls/events/transfers into HOUR-decorated
  * tables, `dump_mkdatasets` at :3436 provisions them with
  * `--time_partitioning_type=HOUR`) and its block-range continuity
  * audit (:3470-3516: the hour is publishable only if its [bnStart,
  * bnEnd] seam-checks against BOTH neighbours — the next hour's first
  * block must be bnEnd+1 and the previous hour's last must be
  * bnStart−1 — plus the in-range completeness check `bn1−bn0+1 ==
  * rows.length` at :3543; failures bump indexlog.duneAttempts and the
  * hour is retried, they do not kill the run).
  *
  * Spark-first inversion: the reference walks BigTable 50 blocks at a
  * time and counts; here the audit is ONE hash aggregation to
  * per-(chain, hour) `[min, max, count]` plus a lag window keyed by the
  * chain — block numbers are dense by construction, so
  * `distinct_blocks == bn_end − bn_start + 1` IS the completeness check
  * and the window seam IS the neighbour check. At 100 TB the agg is
  * map-side-combinable and the window's partition (one chain's hours —
  * 10⁴-10⁵ rows for years of history) is trivially driver-safe.
  */
object Hourly {

  /** Per-(chain, hour) block-range audit rows:
    *
    *  - `bn_start`/`bn_end`/`n_blocks` — the hour's range;
    *  - `complete` — every block in [bn_start, bn_end] present
    *    (ref :3543's row-count check; input rows are deduped so a
    *    double-indexed block cannot fake completeness);
    *  - `gap_before` / `gap_after` — seams to the neighbouring
    *    OBSERVED hours broken (ref :3508's bnEnd0+1 != bnStart and
    *    :3501's bnStart2 != bnEnd+1; a missing hour between two
    *    observed ones surfaces on both neighbours); null at a chain's
    *    first/last hour (ref skips the check with no neighbour block,
    *    :3497 FAIL0 path). A tail-truncated hour reads dense to the
    *    range count — ONLY gap_after catches it, which is why the
    *    reference checks both directions;
    *  - `publishable` — complete && both seams intact (the reference's
    *    `problem == false` gate for the hour's export).
    *
    * Double-indexed blocks (re-crawls) are reduced to one
    * deterministic row per (chain, number) — min(block_time), so a
    * re-crawl near an hour boundary cannot flip the hour assignment
    * between runs — before any counting; a duplicate therefore cannot
    * fake completeness. */
  def continuityAudit(blocks: DataFrame): DataFrame = {
    val byHour = blocks
      .groupBy(col("chain_id"), col("number"))
      .agg(min(col("block_time")).as("block_time"))
      .groupBy(col("chain_id"), hourKey(col("block_time")).as("log_hr"))
      .agg(min(col("number")).as("bn_start"),
        max(col("number")).as("bn_end"),
        count(lit(1)).as("n_blocks"))
    val w = Window.partitionBy(col("chain_id")).orderBy(col("log_hr"))
    byHour
      .withColumn("complete",
        col("n_blocks") === col("bn_end") - col("bn_start") + 1)
      .withColumn("prev_end", lag(col("bn_end"), 1).over(w))
      .withColumn("next_start", lead(col("bn_start"), 1).over(w))
      .withColumn("gap_before",
        when(col("prev_end").isNotNull,
          col("prev_end") + 1 =!= col("bn_start")))
      .withColumn("gap_after",
        when(col("next_start").isNotNull,
          col("bn_end") + 1 =!= col("next_start")))
      .withColumn("publishable",
        col("complete") && coalesce(!col("gap_before"), lit(true)) &&
          coalesce(!col("gap_after"), lit(true)))
  }

  /** Export one (day, hour) slice of each table as an idempotent
    * (log_dt, hr) partition overwrite — the Spark twin of the
    * reference's per-hour `bq load --replace` into the HOUR-partitioned
    * `polkadot_hourly.*` tables. Each frame filters on its own time
    * column pushed to the scan. `tsCols` maps a table to its partition
    * time column when it is not `block_time` (the reference's
    * partitioned_table switch, :150-164). */
  def dumpDuneHour(tables: Map[String, DataFrame], logDT: String,
      hr: Int, outRoot: String, tsCols: Map[String, String] = Map.empty)
      : MapView[String, DataFrame] = {
    val hrKey = f"$logDT $hr%02d"
    val outs = tables.map { case (name, df) =>
      name -> df
        .filter(hourKey(col(tsCols.getOrElse(name, "block_time"))) === hrKey)
        .withColumn("log_dt", lit(logDT))
        .withColumn("hr", lit(hr))
    }
    Writers.publish(outRoot, Seq("log_dt", "hr"), None, outs)
  }
}
