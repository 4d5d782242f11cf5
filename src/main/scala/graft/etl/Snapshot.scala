package graft.etl

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Snapshot-at-block state reconstruction (ref
  * snapshot/snapshotter.js:1-264 + its per-chain extractors: point-in-
  * time balances/staking/asset state at a named block, one snapshot
  * artifact per (chain, block), re-written whole on re-run).
  *
  * Spark-first shape: state AT block B is the latest update per key
  * with ordinal ≤ B — ONE hash aggregation via `max(struct(ord,
  * values…))` (argmax with map-side partial aggregation; no global
  * sort, no stream replay, no per-account RPC probes like the
  * reference's live-API walk). At 100 TB the updates table is already
  * partitioned by block range, so the `ord ≤ B` filter prunes
  * partitions before the single shuffle on the key.
  */
object Snapshot {

  /** Internal working columns — caller key/ord/value columns may not
    * collide with them: `withColumn` would silently overwrite the
    * caller's data before the lazy struct/groupBy expressions resolve
    * (fail loudly instead). */
  private val Reserved = Set("m", "mo", "mn", "cp", "snapshot_at")
  private def checkNames(cols: Seq[String],
      extraReserved: Set[String] = Set.empty): Unit = {
    val reserved = Reserved ++ extraReserved
    val clash = cols.filter(reserved)
    require(clash.isEmpty,
      s"column name(s) ${clash.mkString(", ")} collide with Snapshot's " +
        s"internal or output columns (${reserved.mkString(", ")}) — " +
        "rename the input column(s)")
  }

  /** Latest-per-key state as of `atOrd` (block number or any monotonic
    * id): argmax of (ordCol, valueCols…) per keyCols over updates with
    * ordCol ≤ atOrd. Ties on the ordinal break on the value tuple, so
    * the result is deterministic even with duplicate ordinals. The
    * output carries `snapshot_at` so snapshots of different blocks
    * coexist in one partitioned table. */
  def stateAt(updates: DataFrame, keyCols: Seq[String], ordCol: String,
      atOrd: Long, valueCols: Seq[String]): DataFrame = {
    checkNames(keyCols ++ (ordCol +: valueCols))
    val m = struct((ordCol +: valueCols).map(col): _*)
    updates.filter(col(ordCol) <= atOrd)
      .groupBy(keyCols.map(col): _*)
      .agg(max(m).as("m"))
      .select(keyCols.map(col) ++
        (ordCol +: valueCols).map(c => col(s"m.$c").as(c)): _*)
      .withColumn("snapshot_at", lit(atOrd))
  }

  /** What changed between two snapshots (ref snapshotter.js re-runs a
    * full walk per block and diffs files downstream): keys whose state
    * at `toOrd` differs from their state at `fromOrd`, plus keys that
    * first appeared in between. ONE shuffle — both snapshots come out
    * of a single grouped pass (`max(when(ord ≤ from, m))` beside
    * `max(m)` under the ord ≤ to scan filter), not two state jobs and
    * a join, so the cost at 100 TB is the same single key shuffle as
    * `stateAt` with partition pruning on ord ≤ toOrd. Value comparison
    * is null-safe per column. */
  def stateDiff(updates: DataFrame, keyCols: Seq[String], ordCol: String,
      fromOrd: Long, toOrd: Long, valueCols: Seq[String]): DataFrame = {
    require(fromOrd <= toOrd, s"fromOrd $fromOrd > toOrd $toOrd")
    // stateDiff also FABRICATES output columns — a caller column with one
    // of those names would silently duplicate in the output schema
    checkNames(keyCols ++ (ordCol +: valueCols),
      extraReserved = Set("change", "from_ord", "to_ord") ++
        valueCols.map("old_" + _))
    val m = struct((ordCol +: valueCols).map(col): _*)
    // no value columns → a pure "which keys appeared" diff: nothing
    // can count as changed, only as new
    val changed =
      if (valueCols.isEmpty) lit(false)
      else valueCols.map(c => !(col(s"mo.$c") <=> col(s"mn.$c")))
        .reduce(_ || _)
    updates.filter(col(ordCol) <= toOrd)
      .groupBy(keyCols.map(col): _*)
      .agg(max(when(col(ordCol) <= fromOrd, m)).as("mo"), max(m).as("mn"))
      .filter(col("mo").isNull || changed)
      .select(keyCols.map(col) ++ Seq(
        when(col("mo").isNull, lit("new")).otherwise(lit("changed"))
          .as("change")) ++
        valueCols.map(c => col(s"mo.$c").as(s"old_$c")) ++
        valueCols.map(c => col(s"mn.$c").as(c)) ++ Seq(
        lit(fromOrd).as("from_ord"), lit(toOrd).as("to_ord")): _*)
  }

  /** State at EVERY checkpoint of a grid in one job (the snapshotter's
    * scheduled mode: a snapshot per block interval, ref
    * snapshot/snapshotter.js run per named block over a range).
    *
    * Scale shape — the fan-out is bounded by the GRID, never by the
    * updates: (1) each update is assigned to its first checkpoint ≥
    * ord and argmax-aggregated per (key, bucket) — one key shuffle
    * with map-side combine, same as [[stateAt]]; (2) each of the ≤
    * |keys|×G bucket rows explodes to the grid points it can serve
    * (carry-forward) and a second argmax picks the latest per (key,
    * checkpoint). A naive updates×grid join would fan out every
    * UPDATE row G ways; this fans out only the already-aggregated
    * bucket rows, so 100 TB of updates still pays fan-out only on
    * keys×G. Keys appear at a checkpoint only once they have state
    * (no null-padding rows). */
  def stateSeries(updates: DataFrame, keyCols: Seq[String],
      ordCol: String, grid: Seq[Long],
      valueCols: Seq[String]): DataFrame = {
    require(grid.nonEmpty && grid == grid.sorted &&
      grid.distinct.size == grid.size,
      s"grid must be sorted distinct, got $grid")
    checkNames(keyCols ++ (ordCol +: valueCols))
    val gridArr = array(grid.map(lit): _*)
    val m = struct((ordCol +: valueCols).map(col): _*)
    val perBucket = updates.filter(col(ordCol) <= grid.max)
      .withColumn("cp",
        element_at(filter(gridArr, g => g >= col(ordCol)), 1))
      .groupBy(keyCols.map(col) :+ col("cp"): _*)
      .agg(max(m).as("m"))
    perBucket
      .select(keyCols.map(col) ++ Seq(col("m"),
        explode(filter(gridArr, g => g >= col("cp")))
          .as("snapshot_at")): _*)
      .groupBy(keyCols.map(col) :+ col("snapshot_at"): _*)
      .agg(max(col("m")).as("m"))
      .select(keyCols.map(col) ++ Seq(col("snapshot_at")) ++
        (ordCol +: valueCols).map(c => col(s"m.$c").as(c)): _*)
  }

  /** Project a decoded state frame into the PUBLISHED `snapshots` row
    * shape (schema/substrateetl/snapshots.json; the reference's
    * snapshotter emits one such rec per state entry via
    * setRecSnapShotInfo, snapshot/snapshotter.js:90-121, each chain's
    * extractor filling address/track/kv/pv — e.g. polkadot.js:412
    * staking pv, :441 conviction-voting voter recs, astar.js:55 era
    * track_val).
    *
    * One call = one snapshot SOURCE (`section.storage` pair) at one
    * block placement; union several for a chain's full snapshot and
    * land them with [[dumpSnapshots]]. Columns:
    *
    *  - address: `addressCol` names the pubkey column in `state`
    *    (ss58 derived with the chain prefix); absent → null pair
    *    (chain-level rows like totalIssuance);
    *  - `kvCols` → `kv` (JSON of the storage-key parts), `pvCols` →
    *    `pv` (JSON of the decoded value) — null when empty, like the
    *    reference's commented-out defaults;
    *  - `track` — optional (name, value column) identifier, e.g.
    *    ("era", lit(1423)) on staking rows.
    *
    * The projection is row-wise (no shuffle); the heavy lifting
    * happened in [[stateAt]]'s single argmax aggregation. */
  def snapshotRecs(state: DataFrame, sectionStorage: String,
      chainName: String, source: String, blockNumber: Long,
      blockHash: String, tsSec: Long, ss58Prefix: Int = 42,
      addressCol: Option[String] = None,
      kvCols: Seq[String] = Nil, pvCols: Seq[String] = Nil,
      track: Option[(String, org.apache.spark.sql.Column)] = None,
      /** a column that IS already a JSON document — carried into `pv`
        * verbatim (extractors that collect nested state render their
        * own JSON; re-wrapping it through pvCols would escape-encode
        * the whole document into a string field). Wins over pvCols. */
      pvJsonCol: Option[String] = None,
      /** same, for `kv` — the reference stores the bare storage KEY
        * there (a JSON scalar or array, bifrost.js:60 `kv = kVal`),
        * not an object wrapper. Wins over kvCols. */
      kvJsonCol: Option[String] = None): DataFrame = {
    val pieces = sectionStorage.split('.')
    require(pieces.length == 2,
      s"invalid section_storage=$sectionStorage — want 'section.storage'" +
        " (the reference's setRecSnapShotInfo guard)")
    def jsonOf(cols: Seq[String]) =
      if (cols.isEmpty) lit(null).cast("string")
      else to_json(struct(cols.map(col): _*))
    val pvCol = pvJsonCol.map(col).getOrElse(jsonOf(pvCols))
    val kvCol = kvJsonCol.map(col).getOrElse(jsonOf(kvCols))
    val addr = addressCol.map(col)
      .getOrElse(lit(null).cast("string"))
    state.select(
      lit(chainName).as("chain_name"),
      lit(tsSec).cast("timestamp").as("ts"),
      lit(blockNumber).as("block_number"),
      lit(blockHash).as("block_hash"),
      call_udf("ss58_encode", addr, lit(ss58Prefix)).as("address_ss58"),
      addr.as("address_pubkey"),
      lit(pieces(0)).as("section"),
      lit(pieces(1)).as("storage"),
      track.map(t => lit(t._1)).getOrElse(lit(null).cast("string"))
        .as("track"),
      track.map(_._2.cast("string"))
        .getOrElse(lit(null).cast("string")).as("track_val"),
      kvCol.as("kv"),
      pvCol.as("pv"),
      lit(source).as("source"))
  }

  /** Land published-shape snapshot recs as idempotent
    * (log_dt, chain_name, hr) partitions (the reference ships one file
    * per (chain, date, HOUR) into a date-decorated BigQuery load —
    * substrateetl.js:8591 dump_snapshot iterates hr 0..23, one GS file
    * each). The chain rides the partition spec because snapshot runs
    * are PER CHAIN (a day-only partition would let Kusama's publish
    * erase Polkadot's rows); the HOUR — derived from each rec's own
    * `ts`, every rec of a placement carries the block's timestamp —
    * rides it because publishes are per PLACEMENT: without it an
    * hourly-cadence publisher would silently erase the same chain-day's
    * earlier hours on every call. A re-run of one (chain, day, hour)
    * replaces exactly its own partition, same collision surface as the
    * reference's per-hour file overwrite. All sources union into ONE
    * table — the published dataset is a single `snapshots` table,
    * discriminated by section/storage/source. */
  def dumpSnapshots(recs: Seq[DataFrame], logDT: String,
      outRoot: String): DataFrame = {
    require(recs.nonEmpty, "no snapshot sources")
    val out = recs.reduce(_ unionByName _)
      .withColumn("log_dt", lit(logDT))
      // UTC hour derived timezone-INDEPENDENTLY: hour(ts) reads
      // spark.sql.session.timeZone, so a caller-built non-UTC session
      // would land recs in shifted hour partitions (and a re-run under
      // a different tz would not replace the same partition). The
      // epoch arithmetic yields the same UTC hour under any session tz
      .withColumn("hr",
        (pmod(unix_timestamp(col("ts")), lit(86400L)) / 3600L)
          .cast("int"))
    Writers.publish(outRoot, Seq("log_dt", "chain_name", "hr"), None,
      Seq("snapshots" -> out))("snapshots")
  }

  /** The external balances-feed transform (ref substrateetl.js:544
    * dump_snapshot_transform): an NDJSON feed of {AccountId, Free,
    * Locked, Reserved, Total} rows — the shape external per-chain
    * indexers hand over — normalizes to the published
    * (address_ss58, address_pubkey, free, locked, reserved, total)
    * row and lands it in `fmt` (the reference emits csv or mysql
    * VALUES; here any Writers-supported format). AccountId arrives as
    * ss58 OR 0x pubkey — both normalize through ss58_pubkey, and rows
    * whose address fails to decode DROP like the reference's
    * try/catch-per-line. Row-wise projection; no shuffle. */
  def transformBalancesFeed(feed: DataFrame, outDir: String,
      format: String = "csv", ss58Prefix: Int = 0): DataFrame = {
    val out = feed.select(
      pubkeyOf(col("AccountId")).as("address_pubkey"),
      col("Free").as("free"), col("Locked").as("locked"),
      col("Reserved").as("reserved"), col("Total").as("total"))
      .filter(col("address_pubkey").isNotNull)
      .select(
        call_udf("ss58_encode", col("address_pubkey"),
          lit(ss58Prefix)).as("address_ss58"),
        col("address_pubkey"), col("free"), col("locked"),
        col("reserved"), col("total"))
    out.write.mode("overwrite").format(format)
      .option("header", "true").save(outDir)
    out
  }
}
