package graft

import graft.decode.{AcalaParser, ChainParser, GenericParser, InterlayParser, ParallelParser}
import graft.etl.{Dump, Writers}
import graft.model._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Writer semantics (S7 dynamic partition overwrite, S9 upsert) and the
  * per-chain parser dispatch seam (P13). */
class EtlSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  test("dynamic partition overwrite replaces only touched partitions") {
    val dir = java.nio.file.Files.createTempDirectory("graft_s7").toString
    val day1 = Seq(("2024-01-01", 1L, "a"), ("2024-01-02", 2L, "b"))
      .toDF("log_dt", "id", "v")
    Writers.overwritePartitions(day1, dir, Seq("log_dt"))
    // re-dump day 2 only, with different content (idempotent backfill)
    val day2 = Seq(("2024-01-02", 3L, "c"))
      .toDF("log_dt", "id", "v")
    Writers.overwritePartitions(day2, dir, Seq("log_dt"))
    // partition values come back type-inferred (DATE here) — compare as
    // strings
    val out = spark.read.parquet(dir).select("log_dt", "id")
      .collect().map(r => (r.get(0).toString, r.getLong(1))).toSet
    assert(out == Set(("2024-01-01", 1L), ("2024-01-02", 3L)))

    // the same sink through Writers.publish: with no partition columns
    // Spark falls back to a STATIC overwrite, so a whole-table publish
    // over a directory holding a stale layout leaves only the new rows
    val root = java.nio.file.Files.createTempDirectory("graft_pub").toString
    Writers.overwritePartitions(day1, s"$root/dim", Seq("log_dt"))
    Writers.publish(root, Nil, None,
      Seq("dim" -> Seq((9L, "z")).toDF("id", "v")))
    assert(new java.io.File(s"$root/dim").list()
      .forall(!_.startsWith("log_dt=")),
      "a whole-table publish left stale partition directories")
    assert(spark.read.parquet(s"$root/dim").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq == Seq((9L, "z")))

    // micro-batch rule: a replayed batch id replaces only its own
    // (log_dt, batch_id) partition — the other batch and the other day
    // survive
    def batch(id: Long, rows: (String, Long, String)*): Unit =
      Writers.publish(root, Seq("log_dt"), Some(id),
        Seq("t" -> rows.toDF("log_dt", "id", "v")))
    batch(0L, ("2024-01-01", 1L, "a"), ("2024-01-02", 2L, "b"))
    batch(1L, ("2024-01-01", 3L, "c"))
    batch(1L, ("2024-01-01", 4L, "d"))
    val batches = spark.read.parquet(s"$root/t")
      .select("log_dt", "batch_id", "id").collect()
      .map(r => (r.get(0).toString, r.get(1).toString.toLong, r.getLong(2)))
      .toSet
    assert(batches == Set(("2024-01-01", 0L, 1L), ("2024-01-02", 0L, 2L),
      ("2024-01-01", 1L, 4L)))

    // overwritePartitions sets its overwrite mode per write: the
    // session conf is left exactly as found (a session-wide
    // set-and-restore would leak into overwrites running beside it,
    // and leaves the key set)
    val fresh = spark.newSession()
    val key = "spark.sql.sources.partitionOverwriteMode"
    val before = fresh.conf.getAll.get(key)
    Writers.overwritePartitions(
      fresh.range(2).toDF("account").withColumn("snapshot_at",
        org.apache.spark.sql.functions.lit(7L)), s"$root/snap",
      Seq("snapshot_at"))
    assert(fresh.conf.getAll.get(key) == before)
    assert(fresh.read.parquet(s"$root/snap").count() == 2L)
  }

  test("snapshot-at-block: as-of argmax + idempotent partition rewrite") {
    import graft.etl.Snapshot
    // account 1 updates at blocks 10/20/30; account 2 at 25 only
    val updates = Seq(
      (1L, 10L, 100.0), (1L, 20L, 150.0), (1L, 30L, 90.0),
      (2L, 25L, 55.0))
      .toDF("account", "block", "free")
    def snap(at: Long) = Snapshot.stateAt(updates, Seq("account"),
      "block", at, Seq("free"))
    // as-of block 22: account 1 shows the block-20 state (NOT block 30),
    // account 2 has no state yet
    assert(snap(22L).collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet ==
      Set((1L, 20L, 150.0)))
    val dir = java.nio.file.Files.createTempDirectory("graft_snap").toString
    def write(at: Long): Unit =
      Writers.overwritePartitions(snap(at), dir, Seq("snapshot_at"))
    write(22L)
    write(30L)
    // re-running snapshot 30 must replace ONLY its own partition
    write(30L)
    val out = spark.read.parquet(dir)
      .select("snapshot_at", "account", "block", "free")
      .collect().map(r => (r.get(0).toString.toLong, r.getLong(1),
        r.getLong(2), r.getDouble(3))).toSet
    assert(out == Set(
      (22L, 1L, 20L, 150.0),
      (30L, 1L, 30L, 90.0), (30L, 2L, 25L, 55.0)))
  }

  test("snapshot diff: new vs changed keys, unchanged filtered") {
    import graft.etl.Snapshot
    // acct 1 changes between 22 and 30 (150→90); acct 2 appears; acct 3
    // has state at both cuts but the VALUE is unchanged (re-set at 28)
    val updates = Seq(
      (1L, 10L, 100.0), (1L, 20L, 150.0), (1L, 30L, 90.0),
      (2L, 25L, 55.0),
      (3L, 15L, 70.0), (3L, 28L, 70.0))
      .toDF("account", "block", "free")
    val out = Snapshot.stateDiff(updates, Seq("account"), "block",
      fromOrd = 22L, toOrd = 30L, valueCols = Seq("free"))
      .collect().map(r => (r.getLong(0), r.getString(1),
        Option(r.get(2)).map(_.asInstanceOf[Double]), r.getDouble(3)))
      .toSet
    assert(out == Set(
      (1L, "changed", Some(150.0), 90.0),
      (2L, "new", None, 55.0)))
  }

  test("snapshot series: carry-forward across empty intervals") {
    import graft.etl.Snapshot
    // acct 1 updates at 10/20/30; acct 2 appears at 25 (absent from the
    // grid-10 snapshot); acct 1 has NO update in (20, 25] so its
    // checkpoint-25 state must carry the block-20 value forward;
    // updates past the last checkpoint (block 99) are ignored
    val updates = Seq(
      (1L, 10L, 100.0), (1L, 20L, 150.0), (1L, 30L, 90.0),
      (2L, 25L, 55.0), (1L, 99L, 1.0))
      .toDF("account", "block", "free")
    val out = Snapshot.stateSeries(updates, Seq("account"), "block",
      grid = Seq(10L, 25L, 40L), valueCols = Seq("free"))
      .collect().map(r => (r.getLong(1), r.getLong(0), r.getLong(2),
        r.getDouble(3))).toSet
    assert(out == Set(
      (10L, 1L, 10L, 100.0),
      (25L, 1L, 20L, 150.0), (25L, 2L, 25L, 55.0),
      (40L, 1L, 30L, 90.0), (40L, 2L, 25L, 55.0)))
    // matches the naive per-checkpoint stateAt on every grid point
    val naive = Seq(10L, 25L, 40L).flatMap { cp =>
      Snapshot.stateAt(updates, Seq("account"), "block", cp, Seq("free"))
        .collect().map(r => (cp, r.getLong(0), r.getLong(1),
          r.getDouble(2)))
    }.toSet
    assert(out == naive)
  }

  test("snapshots published shape: recs projection, ss58 round trip, " +
      "idempotent day partition") {
    import graft.etl.Snapshot
    import graft.functions.Codec
    val pk = Codec.bytesToHex(Array.fill[Byte](32)(7))
    val state = Seq((pk, 55L, 3L)).toDF("pubkey", "free", "nonce")
    val recs = Snapshot.snapshotRecs(state, "system.account",
      chainName = "Polkadot", source = "polkaholic",
      blockNumber = 100L, blockHash = "0xb100", tsSec = 1700000000L,
      ss58Prefix = 0, addressCol = Some("pubkey"),
      pvCols = Seq("free", "nonce"))
    val r = recs.collect().head
    // the published 13-column schema, in the schema's own order
    assert(recs.columns.toSeq == Seq("chain_name", "ts", "block_number",
      "block_hash", "address_ss58", "address_pubkey", "section",
      "storage", "track", "track_val", "kv", "pv", "source"))
    assert(r.getAs[String]("section") == "system" &&
      r.getAs[String]("storage") == "account")
    // ss58 carries the chain prefix and round-trips to the pubkey
    val (net, bytes) = Codec.ss58Decode(r.getAs[String]("address_ss58"))
    assert(net == 0 && Codec.bytesToHex(bytes) == pk)
    assert(r.getAs[String]("pv") == """{"free":55,"nonce":3}""")
    assert(r.getAs[String]("kv") == null)
    assert(r.getAs[String]("track") == null)
    // chain-level rows: no address, kv + track carried
    val level = Snapshot.snapshotRecs(
      Seq(Tuple1(99L)).toDF("total"), "balances.totalIssuance",
      chainName = "Polkadot", source = "polkaholic",
      blockNumber = 100L, blockHash = "0xb100", tsSec = 1700000000L,
      kvCols = Seq("total"),
      track = Some(("era", org.apache.spark.sql.functions.lit(7))))
      .collect().head
    assert(level.getAs[String]("address_ss58") == null &&
      level.getAs[String]("address_pubkey") == null)
    assert(level.getAs[String]("kv") == """{"total":99}""")
    assert(level.getAs[String]("track") == "era" &&
      level.getAs[String]("track_val") == "7")
    // a malformed section.storage fails loudly (the reference's
    // setRecSnapShotInfo guard)
    intercept[IllegalArgumentException] {
      Snapshot.snapshotRecs(state, "noseparator", "x", "y", 1L, "h", 0L)
    }
    // (log_dt, chain_name)-partition publish: a re-run replaces, never
    // appends — and ANOTHER chain's publish for the same day must not
    // clobber this chain's rows (snapshot runs are per chain)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_snapdump").toString
    val n1 = Snapshot.dumpSnapshots(Seq(recs), "2024-03-01", dir).count()
    val n2 = Snapshot.dumpSnapshots(Seq(recs), "2024-03-01", dir).count()
    assert(n1 == 1L && n2 == 1L)
    val kusama = Snapshot.snapshotRecs(state, "system.account",
      chainName = "Kusama", source = "polkaholic",
      blockNumber = 200L, blockHash = "0xk200", tsSec = 1700000600L,
      ss58Prefix = 2, addressCol = Some("pubkey"),
      pvCols = Seq("free", "nonce"))
    val both = Snapshot.dumpSnapshots(Seq(kusama), "2024-03-01", dir)
    assert(both.count() == 2L,
      "a second chain's same-day publish erased the first chain")
    assert(both.select("chain_name").distinct().count() == 2L)
  }

  test("concurrently: results in items order; a failure drains the " +
      "in-flight siblings before the ORIGINAL exception rethrows") {
    // order: the pool may finish out of order, results must not
    assert(Writers.concurrently(spark, Seq(3, 1, 2))(_ * 10) ==
      Seq(30, 10, 20))
    // drain: item "boom" throws fast; the slow sibling must COMPLETE
    // (not be orphaned mid-write) before the failure surfaces — an
    // early rethrow would let the caller clean up paths/cached frames
    // a still-running write job depends on
    val done = new java.util.concurrent.atomic.AtomicBoolean(false)
    val ex = intercept[IllegalStateException] {
      Writers.concurrently(spark, Seq("boom", "slow")) {
        case "boom" => throw new IllegalStateException("original")
        case "slow" => Thread.sleep(300); done.set(true); "ok"
      }
    }
    assert(ex.getMessage == "original") // the cause, not a wrapper
    assert(done.get(), "in-flight sibling was orphaned, not drained")
  }

  // shared frames for the publish tests: a repartitioned frame (its
  // plan holds a shuffle) and a narrow range, with distinct value
  // columns so a write plan's cached relation names its frame
  private def wideFrame = Seq((1L, "a"), (2L, "b"), (3L, "c"))
    .toDF("k", "v").repartition(3)
  private def narrowFrame = spark.range(0, 6, 1, 3)
    .select(col("id").as("k"), (col("id") * 10).as("w"))
  private def tmpRoot() =
    java.nio.file.Files.createTempDirectory("graft_shared").toString

  test("publish: every table reads each shared frame through its " +
      "cache, and a shuffled frame is fully cached before any write") {
    import org.apache.spark.scheduler.{SparkListenerBlockUpdated,
      SparkListenerEvent, SparkListenerJobStart}
    import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.command.DataWritingCommandExec
    object Walk extends org.apache.spark.sql.execution.adaptive
      .AdaptiveSparkPlanHelper
    val (wide, narrow) = (wideFrame, narrowFrame)
    // the tables are built BEFORE publish persists the frames
    val tables = Seq(
      "joined" -> wide.join(narrow, "k"),
      "unmatched" -> narrow.join(wide, Seq("k"), "left_anti"))
    val writePlans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val qel = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long) =
        if (Walk.find(qe.executedPlan)(_.isInstanceOf[DataWritingCommandExec])
            .isDefined) writePlans.add(qe.executedPlan): Unit
      def onFailure(f: String, qe: QueryExecution, e: Exception) = ()
    }
    spark.listenerManager.register(qel)
    val events = try SparkTestBase.eventsDuring(spark)(
      Writers.publish(tmpRoot(), Nil, None, tables, Seq(wide, narrow)))
    finally spark.listenerManager.unregister(qel)
    // (a) each write plan scans both frames' cached relations
    val cached = writePlans.asScala.toSeq.map(p => Walk.collect(p) {
      case s: InMemoryTableScanExec => s.relation.output.map(_.name)
    })
    assert(cached.size == 2, s"expected two write plans, got ${cached.size}")
    assert(cached.forall(c => c.exists(_.contains("v")) &&
      c.exists(_.contains("w"))),
      s"a write read a shared frame around its cache: $cached")
    // (c) every partition of the shuffled frame's cache is stored before
    // the first write job starts, and none after: the writes never race
    // its first computation (the narrow frame fills during the writes)
    val firstWrite = events.indexWhere {
      case j: SparkListenerJobStart =>
        j.stageInfos.exists(_.name.startsWith("save at Writers.scala"))
      case _ => false
    }
    assert(firstWrite > 0, "no write job seen")
    def stored(es: Seq[SparkListenerEvent]) = es.collect {
      case b: SparkListenerBlockUpdated
          if b.blockUpdatedInfo.storageLevel.isValid =>
        b.blockUpdatedInfo.blockId.asRDDId
    }.flatten.map(id => (id.rddId, id.splitIndex)).toSet
    val before = stored(events.take(firstWrite))
    val rdds = before.map(_._1)
    assert(rdds.size == 1, s"cached before the writes: $before")
    val parts = SparkTestBase.bodyJobs(events).flatMap(_.stageInfos)
      .flatMap(_.rddInfos).find(_.id == rdds.head).map(_.numPartitions)
    assert(parts.contains(before.size),
      s"the shuffled frame was cached partly before the writes: " +
        s"${before.size} of $parts partitions")
    assert(!stored(events.drop(firstWrite)).exists(_._1 == rdds.head),
      "a write computed a partition of the shuffled frame")
  }

  test("publish releases its shared frames after the writes, also " +
      "when a write throws, and the original exception surfaces") {
    val (wide, narrow) = (wideFrame, narrowFrame)
    val none = org.apache.spark.storage.StorageLevel.NONE
    Writers.publish(tmpRoot(), Nil, None,
      Seq("joined" -> wide.join(narrow, "k"), "narrow" -> narrow),
      Seq(wide, narrow))
    assert(wide.storageLevel == none && narrow.storageLevel == none)
    // a table without the partition column fails its write on the driver
    val ex = intercept[org.apache.spark.sql.AnalysisException] {
      Writers.publish(tmpRoot(), Seq("log_dt"), None,
        Seq("dated" -> wide.withColumn("log_dt", lit("2024-03-01")),
          "undated" -> narrow),
        Seq(wide, narrow))
    }
    assert(ex.getMessage.contains("log_dt"))
    assert(wide.storageLevel == none && narrow.storageLevel == none,
      "a failed publish left its shared frames cached")
  }

  test("publish computes first only the shuffled frames of a " +
      "multi-table publish") {
    import SparkTestBase.{framesComputedFirst, jobsDuring}
    def two(df: DataFrame, shared: DataFrame*) =
      Writers.publish(tmpRoot(), Nil, None,
        Seq("a" -> df.select(col("k")), "b" -> df.select(col("k") + 1)),
        shared)
    def one(df: DataFrame, shared: DataFrame*) =
      Writers.publish(tmpRoot(), Nil, None, Seq("a" -> df.select(col("k"))),
        shared)
    // the frame's lifetime hand-rolled around a publish, no barrier
    def persisted(df: DataFrame)(body: => Unit) = {
      df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try body finally df.unpersist()
    }
    val (wide, narrow) = (wideFrame, narrowFrame)
    assert(framesComputedFirst(spark)(two(wide, wide)) == 1)
    assert(framesComputedFirst(spark)(two(wide, wide, narrow)) == 1)
    // (d) a narrow frame, or a single table, runs no count job: the
    // publish runs the jobs of the hand-rolled lifetime
    assert(framesComputedFirst(spark)(two(narrow, narrow)) == 0)
    assert(jobsDuring(spark)(two(narrow, narrow)) ==
      jobsDuring(spark)(persisted(narrow)(two(narrow))))
    assert(framesComputedFirst(spark)(one(wide, wide)) == 0)
    assert(jobsDuring(spark)(one(wide, wide)) ==
      jobsDuring(spark)(persisted(wide)(one(wide))))
  }

  test("publish returns its landed tables: a dropped result lists " +
      "nothing, a read covers the whole table with the published types") {
    import org.apache.spark.metrics.source.HiveCatalogMetrics
    import org.apache.spark.sql.types.{DateType, StringType}
    def discovered = HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount
    def day(dt: String, ids: Long*) =
      ids.map(i => (i, s"v$i", dt)).toDF("id", "v", "log_dt")
    def types(df: DataFrame) = df.schema.map(f => f.name -> f.dataType)
    val root = tmpRoot()
    // (a) neither the writes nor the dropped result list a directory
    val before = discovered
    Writers.publish(root, Seq("log_dt"), None,
      Seq("t" -> day("2024-03-01", 1L, 2L)))
    assert(discovered == before, "a dropped publish result listed files")
    // (b) an accessed read-back scans $root/t with the published names
    // and types: log_dt stays a string, where an inferring read of the
    // same directory gives a DATE
    val published = day("2024-03-02", 3L)
    val t = Writers.publish(root, Seq("log_dt"), None,
      Seq("t" -> published))("t")
    assert(discovered > before, "the accessed read-back listed nothing")
    assert(t.inputFiles.nonEmpty &&
      t.inputFiles.forall(_.contains(s"$root/t/log_dt=")), t.inputFiles)
    assert(types(t) == types(published))
    assert(t.schema("log_dt").dataType == StringType)
    assert(spark.read.parquet(s"$root/t").schema("log_dt").dataType ==
      DateType)
    // (c) the read-back is the whole table, the earlier day included
    assert(t.select("log_dt", "id").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet ==
      Set(("2024-03-01", 1L), ("2024-03-01", 2L), ("2024-03-02", 3L)))
    // and an empty partitioned day reads back as zero rows, full schema
    val empty = Writers.publish(tmpRoot(), Seq("log_dt"), None,
      Seq("t" -> published.limit(0)))("t")
    assert(empty.count() == 0)
    assert(types(empty) == types(published))
  }

  test("upsert: updates win on key, inserts appended") {
    val base = Seq((1L, "old", 1L), (2L, "keep", 1L))
      .toDF("k", "v", "ver")
    val updates = Seq((1L, "new", 2L), (3L, "ins", 1L))
      .toDF("k", "v", "ver")
    val out = Writers.upsert(base, updates, Seq("k"), "ver")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(out == Set((1L, "new"), (2L, "keep"), (3L, "ins")))
  }

  test("chain parser dispatch and specialization") {
    assert(ChainParser.forChain(0) == GenericParser(0))
    assert(ChainParser.forChain(2000) == AcalaParser(2000))
    assert(GenericParser(0).assetKey("DOT") == "DOT~0")
    assert(AcalaParser(2000).assetKey("ACA") == """{"Token":"ACA"}~2000""")
    assert(AcalaParser(2000).assetKey("""{"ForeignAsset":"0"}""") ==
      """{"ForeignAsset":"0"}~2000""")
    assert(GenericParser(0).transferKind("balances", "Transfer")
      .contains("native"))
    assert(GenericParser(0).transferKind("system", "Remarked").isEmpty)
    assert(GenericParser(0).suppressCall("timestamp", "set"))
  }

  test("Parallel parser: numeric ids, LP symbols, 1e18 indices") {
    assert(ChainParser.forChain(2012) == ParallelParser(2012))
    assert(ChainParser.forChain(22085) == ParallelParser(22085))
    val p = ParallelParser(2012)
    // digit-grouped currency ids canonicalize (parallel.js:14)
    assert(p.assetKey("6,003") == """{"Token":"6003"}~2012""")
    assert(p.assetKey("101") == """{"Token":"101"}~2012""")
    assert(p.assetKey("PARA") == "PARA~2012") // symbols pass through
    assert(p.isLiquidityPair("LP-DOT/sDOT"))
    assert(!p.isLiquidityPair("sDOT"))
    assert(!GenericParser(0).isLiquidityPair("LP-DOT/sDOT"))
    // loans normalization: principal / (borrowIndex / 1e18)
    assert(p.adjustedPrincipal(BigInt("203021433150092"),
      BigInt("1001598143276266837")) ==
      203021433150092.0 / (1001598143276266837.0 / 1e18))
    assert(p.adjustedPrincipal(BigInt(0), BigInt(0)) == 0.0)
    assert(p.voucherToUnderlying(BigInt(1000), BigInt("2000000000000000000"))
      == 2000.0)
  }

  test("Interlay parser: ORML token JSON and DexShare pair detection") {
    assert(ChainParser.forChain(2032) == InterlayParser(2032))
    assert(ChainParser.forChain(22092) == InterlayParser(22092))
    val p = InterlayParser(2032)
    assert(p.assetKey("INTR") == """{"Token":"INTR"}~2032""")
    assert(p.assetKey("""{"ForeignAsset":"1"}""") ==
      """{"ForeignAsset":"1"}~2032""")
    // DexShare pairs are 2-element array assets — passed through, LP
    assert(p.assetKey("""[{"Token":"DOT"},{"Token":"INTR"}]""") ==
      """[{"Token":"DOT"},{"Token":"INTR"}]~2032""")
    assert(p.isLiquidityPair("""[{"Token":"DOT"},{"Token":"INTR"}]"""))
    assert(!p.isLiquidityPair("INTR"))
  }

  test("Astar parser: dappsStaking rewards from metadata-tier bytes") {
    import graft.decode.{AstarParser, BlockDecode}
    import graft.decode.BlockDecode.{EventMeta, RuntimeMeta}
    import graft.decode.MetaDecode.StandardPallets
    import graft.functions.Codec
    assert(ChainParser.forChain(2006) == AstarParser(2006))
    val p = AstarParser(2006)
    assert(p.isRewardEvent("dappsStaking", "Reward"))
    assert(p.isRewardEvent("staking", "Rewarded"))
    // slashes ride the filter like the reference's rewardFilter
    // (chainparser.js:3898); their negated amounts drop downstream
    assert(p.isRewardEvent("staking", "Slashed"))
    assert(GenericParser(0).isRewardEvent("staking", "Slashed"))
    assert(!GenericParser(0).isRewardEvent("dappsStaking", "Reward"))
    // raw SCALE: Reward(alice, Evm(0xcd..20 bytes), era 68, 7e12)
    val alice = Codec.hexToBytes(
      "d43593c715fdd31c61141abd04a99fd6822c8558854ccde39a5684e7a56da27d")
    val h160 = Array.tabulate[Byte](20)(i => (0xb0 + i).toByte)
    def u32le(v: Long) =
      Array.tabulate(4)(i => ((v >> (8 * i)) & 0xff).toByte)
    val amtLe = {
      val le = BigInt(7000000000000L).toByteArray.dropWhile(_ == 0).reverse
      le ++ Array.fill[Byte](16 - le.length)(0)
    }
    val ev = (Codec.compactEncode(BigInt(1)) ++ Array(0.toByte) ++
      u32le(0) ++ Array(34.toByte, 5.toByte) ++ alice ++
      Array(0.toByte) ++ h160 ++ u32le(68) ++ amtLe ++
      Codec.compactEncode(BigInt(0))).toArray
    val meta = RuntimeMeta(100, 18,
      calls = Seq.empty,
      events = Seq(EventMeta(0, 0, "system", "ExtrinsicSuccess")),
      pallets = Seq(StandardPallets.dappsStaking(34)))
    val decoded = BlockDecode.decodeEvents(Codec.bytesToHex(ev), meta)
    assert(decoded.head.section == "dappsStaking" &&
      decoded.head.method == "Reward")
    // extraction over the decoded-events table shape
    val events = Seq(("1-0-0", decoded.head.section, decoded.head.method,
        decoded.head.data))
      .toDF("event_id", "section", "method", "data")
    val r = p.dappRewards(events).collect().head
    assert(r.getAs[String]("account_pub") == Codec.bytesToHex(alice))
    assert(r.getAs[String]("contract_kind") == "evm")
    assert(r.getAs[String]("contract_key") == Codec.bytesToHex(h160))
    assert(r.getAs[Long]("era") == 68L)
    assert(r.getAs[java.math.BigDecimal]("amount").longValueExact
      == 7000000000000L)
  }

  test("Bifrost parser: liquid-staking currency normalization") {
    import graft.decode.BifrostParser
    assert(ChainParser.forChain(2030) == BifrostParser(2030))
    assert(ChainParser.forChain(22001) == BifrostParser(22001))
    val p = BifrostParser(2030)
    // bare symbol and ORML variants (chainparser.js:89-109)
    assert(p.assetKey("BNC") == """{"Token":"BNC"}~2030""")
    assert(p.assetKey("""{"native":"BNC"}""") == """{"Token":"BNC"}~2030""")
    assert(p.assetKey("""{"stable":"KUSD"}""") ==
      """{"Token":"KUSD"}~2030""")
    assert(p.assetKey("""{"vsToken":"KSM"}""") ==
      """{"Token":"VSKSM"}~2030""")
    assert(p.assetKey("""{"vToken":"KSM"}""") ==
      """{"VToken":"KSM"}~2030""")
    assert(p.assetKey("""{"Token2":"0"}""") == """{"Token2":"0"}~2030""")
    // VSBond digit-group cleanup (substrateetl.js:1073-1079)
    assert(p.assetKey("""{"vsBond":"02,000,6,13"}""") ==
      """{"VSBond2":"02000613"}~2030""")
    assert(p.assetKey("""{"VSBond2":["2,000","6","13"]}""") ==
      """{"VSBond2":["2000","6","13"]}~2030""")
    // unknown shapes pass through untouched
    assert(p.assetKey("""{"ForeignAsset":"1"}""") ==
      """{"ForeignAsset":"1"}~2030""")
    // registry symbol conventions
    assert(p.voucherSymbol("KSM") == "vKSM")
    assert(p.voucherSlot("KSM", "Kusama") ==
      ("VSKSM", "Bifrost Voucher Slot Kusama"))
  }

  test("parser asset-key override reaches Dump's transfers projection") {
    val ts = java.sql.Timestamp.valueOf("2024-03-01 10:00:00")
    val alicePub =
      "0xd43593c715fdd31c61141abd04a99fd6822c8558854ccde39a5684e7a56da27d"
    val bobPub =
      "0x8eaf04151687736326c9fea17e25fc5287613693c912909cb226aa4794f26a48"
    def block(chainId: Int, asset: String) = RawBlock(chainId, 1L, "0xb1",
      "0xb0", ts, 100, "0xaa", finalized = true,
      extrinsics = Seq(RawExtrinsic(0, "0xe0", "balances", "transfer",
        """{"section":"balances","method":"transfer","args":{}}""",
        signed = true, alicePub, 0.1,
        events = Seq(RawEvent(0, "system", "ExtrinsicSuccess", "{}")),
        transfers = Seq(RawTransfer(alicePub, bobPub, asset, "0x0de0b6b3a7640000", 12)))),
      logs = Seq.empty)
    // same raw shape, three chains: the asset key must go through each
    // chain's parser inside the asset_chain UDF
    val raw = Seq(block(2012, "6,003"), block(2000, "ACA"),
      block(2030, """{"vToken":"KSM"}"""), block(7, "DOT")).toDF()
    val t = Dump.transfers(raw, "2024-03-01")
      .select("chain_id", "asset").collect()
      .map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(t(2012) == """{"Token":"6003"}~2012""") // Parallel numeric id
    assert(t(2000) == """{"Token":"ACA"}~2000""")  // Acala token JSON
    assert(t(2030) == """{"VToken":"KSM"}~2030""") // Bifrost voucher
    assert(t(7) == "DOT~7")                        // generic passthrough
  }

  test("partition overwrite is format-parameterized (orc, ndjson)") {
    for (fmt <- Seq("orc", "json")) {
      val dir = java.nio.file.Files
        .createTempDirectory(s"graft_s8_$fmt").toString
      val day1 = Seq(("2024-01-01", 1L), ("2024-01-02", 2L))
        .toDF("log_dt", "id")
      Writers.overwritePartitions(day1, dir, Seq("log_dt"), fmt)
      Writers.overwritePartitions(
        Seq(("2024-01-02", 3L)).toDF("log_dt", "id"),
        dir, Seq("log_dt"), fmt)
      val back = spark.read.format(fmt)
        .schema("id LONG, log_dt STRING").load(dir)
        .collect().map(r => (r.getAs[Any]("log_dt").toString,
          r.getAs[Long]("id"))).toSet
      assert(back == Set(("2024-01-01", 1L), ("2024-01-02", 3L)), fmt)
    }
  }

  test("deleteKeys rewrites only affected partitions, drops emptied ones") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft_del").toString
    val data = Seq(
      ("d1", 1L, "a"), ("d1", 2L, "b"),
      ("d2", 3L, "c"),                  // becomes empty after deletion
      ("d3", 4L, "d"), ("d3", 5L, "e")) // untouched
      .toDF("day", "k", "v")
    Writers.overwritePartitions(data, dir, Seq("day"))
    val untouchedFiles = new java.io.File(s"$dir/day=d3").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(f => f.getName -> f.lastModified).toSet
    val deleted = Writers.deleteKeys(spark, dir, "day", "k",
      Seq(1L, 3L, 99L).toDF("k"))
    assert(deleted == 2L) // key 99 matches nothing
    val left = spark.read.parquet(dir).select("day", "k")
      .collect().map(r => (r.get(0).toString, r.getLong(1))).toSet
    assert(left == Set(("d1", 2L), ("d3", 4L), ("d3", 5L)))
    // the fully-emptied partition directory is gone
    assert(!new java.io.File(s"$dir/day=d2").exists)
    // untouched partition files were never rewritten
    val after = new java.io.File(s"$dir/day=d3").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(f => f.getName -> f.lastModified).toSet
    assert(after == untouchedFiles)
    // idempotent: a second run deletes nothing
    assert(Writers.deleteKeys(spark, dir, "day", "k",
      Seq(1L, 3L).toDF("k")) == 0L)
  }

  test("deleteKeys handles null and escape-needing partition values") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files
      .createTempDirectory("graft_del2").toString
    val data = Seq(
      (Some("a b"), 1L), (Some("a b"), 2L), // value Hive-escapes on disk
      (None, 3L), // null partition -> __HIVE_DEFAULT_PARTITION__
      (Some("ok"), 4L))
      .toDF("day", "k")
    Writers.overwritePartitions(data, dir, Seq("day"))
    // delete k=1 (partial "a b") and k=3 (empties the null partition)
    val deleted = Writers.deleteKeys(spark, dir, "day", "k",
      Seq(1L, 3L).toDF("k"))
    assert(deleted == 2L)
    val left = spark.read.parquet(dir).select("day", "k")
      .collect().map(r => (Option(r.get(0)).map(_.toString), r.getLong(1)))
      .toSet
    assert(left == Set((Some("a b"), 2L), (Some("ok"), 4L)))
    // the emptied null-partition directory is gone; the escaped one stays
    val dirs = new java.io.File(dir).listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(!dirs.contains("day=__HIVE_DEFAULT_PARTITION__"), dirs)
    // Hive path escaping leaves spaces alone (it escapes %, :, #, …) —
    // what matters is that the partially-deleted partition SURVIVES
    // under whatever escaping the writer used
    assert(dirs.exists(n => n == "day=a b" || n.startsWith("day=a%20b")),
      dirs)
  }

  test("deleteKeys on TIMESTAMP-typed partitions: typed compare, not " +
      "stringly") {
    import org.apache.spark.sql.functions.col
    // a timestamp's JVM toString ('… 10:00:00.0') differs from Spark's
    // string cast ('… 10:00:00') — the old stringly filter selected
    // nothing here while still reporting a positive deleted count
    val dir = java.nio.file.Files
      .createTempDirectory("graft_delts").toString + "/t"
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val rows = Seq(
      ("a", 1L, ts("2024-01-01 10:00:00")),
      ("b", 2L, ts("2024-01-01 10:00:00")),
      ("c", 3L, ts("2024-01-02 11:00:00"))) // only row of its partition
      .toDF("k", "v", "pt")
    Writers.overwritePartitions(rows, dir, Seq("pt"))
    val del = Seq("a", "c").toDF("k")
    val n = Writers.deleteKeys(spark, dir, "pt", "k", del)
    assert(n == 2L)
    val left = spark.read.parquet(dir).select("k", "v").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(left == Set(("b", 2L))) // the delete actually happened
    // the fully-emptied timestamp partition directory is gone
    val dirs = new java.io.File(dir).listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(dirs.size == 1 && dirs.head.startsWith("pt=2024-01-01"))
  }

  test("incremental summary merge equals the full recompute") {
    import org.apache.spark.sql.functions._
    val ev = Tables.events(spark, SparkTestBase.sf)
      .select(col("user_id"), col("event_id"),
        graft.operators.dec6(col("value")).as("v"))
    def summarize(df: org.apache.spark.sql.DataFrame) =
      df.groupBy(col("user_id")).agg(
        sum(col("v")).as("total_v"),
        count(lit(1)).cast("long").as("n"),
        max(col("event_id")).as("max_eid"))
    // split the stream into two "batches" on an arbitrary content cut
    val b1 = ev.filter(col("event_id") % 3 =!= 0)
    val b2 = ev.filter(col("event_id") % 3 === 0)
    val merged = Writers.mergeSummary(
      summarize(b1), summarize(b2), Seq("user_id"),
      Seq("total_v" -> "sum", "n" -> "sum", "max_eid" -> "max"))
      .collect().map(r => r.getLong(0) ->
        ((r.getDecimal(1), r.getLong(2), r.getLong(3)))).toMap
    val full = summarize(ev)
      .collect().map(r => r.getLong(0) ->
        ((r.getDecimal(1), r.getLong(2), r.getLong(3)))).toMap
    assert(merged === full)
    // non-decomposable merges are refused loudly
    intercept[IllegalArgumentException] {
      Writers.mergeSummary(summarize(b1), summarize(b2),
        Seq("user_id"), Seq("total_v" -> "avg"))
    }
  }

  test("dune views: trailing window + noise filter over the dump layout") {
    import graft.etl.Views
    import org.apache.spark.sql.functions._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val ok = Seq(RawEvent(0, "system", "ExtrinsicSuccess", "{}"))
    val auth =
      "d43593c715fdd31c61141abd04a99fd6822c8558854ccde39a5684e7a56da27d"
    def blk(n: Long, t: String, section: String, method: String) =
      RawBlock(0, n, s"0xb$n", s"0xb${n - 1}", ts(t), 100, auth,
        finalized = true,
        extrinsics = Seq(RawExtrinsic(0, s"0xe$n", section, method,
          s"""{"section":"$section","method":"$method"}""",
          signed = false, null, 0.0, ok, Nil)),
        logs = Nil)
    val raw = Seq(
      blk(1, "2024-03-01 10:00:00", "balances", "transfer"),
      blk(2, "2024-03-01 11:00:00", "imOnline", "heartbeat"), // noise
      blk(3, "2023-10-01 10:00:00", "balances", "transfer")) // stale
      .toDF()
    val root = java.nio.file.Files.createTempDirectory("graft_views").toString
    Dump.dumpDay(raw, "2024-03-01", root)
    Dump.dumpDay(raw, "2023-10-01", root)
    val asOf = ts("2024-03-02 00:00:00") // 2023-10-01 is 154 days out
    val views = Views.register(spark, "polkadot", root, asOf)
    // the fixture's empty entity tables (no transfers/logs/rewards/
    // crowdloan rows → no parquet footers) are skipped, not crashed on
    assert(views.keySet ==
      Set("blocks", "extrinsics", "events", "calls"))
    // the p5 noise-filter query shape, read through the registered view
    val ex = spark.sql(
      "SELECT extrinsic_id, section, method FROM dune_polkadot_extrinsics")
      .collect()
    assert(ex.map(_.getString(0)).toSeq == Seq("1-0")) // noise+stale gone
    assert(views("blocks").count() == 2) // no noise filter on blocks
    // generated DDL is runnable Spark SQL (view face) — distinct chain
    // name so the catalog view cannot be shadowed by the temp views
    spark.sql(Views.viewSql("kusama", root,
      Views.defaultSpecs.find(_.table == "extrinsics").get,
      asOf = Some("2024-03-02 00:00:00")))
    val viaDdl = spark.sql("SELECT count(*) FROM dune_kusama_extrinsics")
      .collect().head.getLong(0)
    assert(viaDdl == 1L)
    spark.sql("DROP VIEW dune_kusama_extrinsics")
    // cached-table face is RUNNABLE on the v1 session catalog
    // (DROP IF EXISTS + CREATE pair — RTAS needs a v2 catalog)
    val ctas = Views.cachedTableSqls("kusama", root,
      Views.defaultSpecs.find(_.table == "calls").get,
      asOf = Some("2024-03-02 00:00:00"))
    assert(ctas.exists(_.contains("PARTITIONED BY (log_dt)")))
    assert(ctas.exists(_.contains("dappsStaking:claimStaker")))
    ctas.foreach(spark.sql(_))
    assert(spark.sql("SELECT count(*) FROM dune_kusama_cached_calls")
      .collect().head.getLong(0) == 1L) // windowed + noise-filtered
    spark.sql("DROP TABLE dune_kusama_cached_calls")
    // dimension views (tsCol = null): whole table, no window — the
    // stale 2023 rows that the entity views drop stay visible
    Seq((2000, "{\"Token\":\"OLD\"}", "polkadot"),
      (2004, "{\"Token\":\"NEW\"}", "polkadot"))
      .toDF("para_id", "asset", "relay_chain")
      .write.mode("overwrite").partitionBy("relay_chain")
      .parquet(s"$root/assets")
    val dimSpec = Views.defaultSpecs.find(_.table == "assets").get
    assert(dimSpec.tsCol == null)
    val dimSql = Views.viewSql("kusama", root, dimSpec,
      asOf = Some("2024-03-02 00:00:00"))
    assert(!dimSql.contains("WHERE")) // no window on a dimension
    spark.sql(dimSql)
    assert(spark.sql("SELECT count(*) FROM dune_kusama_assets")
      .collect().head.getLong(0) == 2L)
    spark.sql("DROP VIEW dune_kusama_assets")
    val dimViews = Views.register(spark, "dim", root, asOf,
      specs = Seq(dimSpec))
    assert(dimViews("assets").count() == 2)
    // the CTAS partition column follows the spec's LAYOUT column —
    // relay_chain for the registry dims, none for the flat chains
    // table, month_dt for blocklogstats (NOT log_dt, which the
    // monthly table does not carry)
    val dimCtas = Views.cachedTableSqls("kusama", root, dimSpec)
    assert(dimCtas.exists(_.contains("PARTITIONED BY (relay_chain)")))
    dimCtas.foreach(spark.sql(_))
    assert(spark.sql("SELECT count(*) FROM dune_kusama_cached_assets")
      .collect().head.getLong(0) == 2L)
    spark.sql("DROP TABLE dune_kusama_cached_assets")
    assert(!Views.cachedTableSqls("kusama", root,
      Views.defaultSpecs.find(_.table == "chains").get)
      .exists(_.contains("PARTITIONED BY")))
    assert(Views.cachedTableSqls("kusama", root,
      Views.defaultSpecs.find(_.table == "blocklogstats").get)
      .exists(_.contains("PARTITIONED BY (month_dt)")))
  }

  test("xcmtransfers export: matched rows in the origination/destination " +
      "shape, paraId mapping, status branches, idempotent partitions") {
    import org.apache.spark.sql.functions._
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    val alice =
      "d43593c715fdd31c61141abd04a99fd6822c8558854ccde39a5684e7a56da27d"
    val transfers = Seq(
      // exact match downstream → success
      ("5-1", 0, 0, 22000, 22001, "KSM", 1000.0, ts(5000), "0xm1", 10L,
        alice),
      // zero received but high fees → confidence 0.8, status unknown
      ("6-1", 0, 0, 2000, 2004, "DOT", 10.0, ts(6000), "0xm2", 20L,
        alice),
      // no candidate at all → absent from the export
      ("7-1", 0, 0, 2000, 2004, "DOT", 50.0, ts(7000), "0xm3", 30L,
        alice))
      .toDF("extrinsic_id", "transfer_index", "xcm_index", "chain_id",
        "chain_id_dest", "symbol", "amount_sent", "source_ts",
        "msg_hash", "sent_at", "sender_pub")
    val candidates = Seq(
      (22001, "0xm1", ts(5030), 900L, 990.0, 10.0, "900-1-1", 0),
      (2004, "0xm2", ts(6030), 910L, 0.0, 8.0, "910-1-1", 0))
      .toDF("chain_id_dest", "msg_hash", "dest_ts", "block_number_dest",
        "amount_received", "xcm_teleport_fees", "event_id", "reaped")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_xcm_spec").toString
    val out = graft.etl.XcmExport.dumpXcmDay(transfers, candidates,
      "2024-03-01", dir).collect()
      .map(r => r.getAs[String]("origination_extrinsic_id") -> r).toMap
    assert(out.keySet == Set("5-1", "6-1")) // 7-1 unmatched, not exported
    val m1 = out("5-1")
    // Kusama chain ids map to para ids (chainID - 20000)
    assert(m1.getAs[Int]("origination_para_id") == 2000 &&
      m1.getAs[Int]("destination_para_id") == 2001)
    assert(m1.getAs[String]("destination_event_id") == "900-1-1")
    assert(m1.getAs[Double]("destination_amount_received") == 990.0)
    assert(m1.getAs[String]("destination_execution_status") == "success")
    assert(m1.getAs[Double]("destination_match_confidence") == 1.0)
    assert(m1.getAs[String]("origination_sender_ss58")
      == "5GrwvaEF5zXb26Fz9rcQpDWS57CtERHpNehXCPcNoHGKutQY")
    val m2 = out("6-1")
    // recv_total 8 vs sent 10 → confidence 0.8 > 0.5, but nothing
    // actually received → the reference's "unknown" status
    assert(m2.getAs[String]("destination_execution_status") == "unknown")
    assert(m2.getAs[Double]("destination_match_confidence") == 0.8)
    assert(m2.getAs[Int]("origination_para_id") == 2000) // Polkadot: id
    // dims-less dump still carries the USD columns (as nulls) so the
    // table schema is partition-invariant
    assert(m1.isNullAt(m1.fieldIndex("price_usd")) &&
      m1.isNullAt(m1.fieldIndex("origination_amount_sent_usd")))
    // re-dumping another day leaves this partition untouched (the
    // read-back covers the whole table); a single-table publish
    // computes no shared frame ahead of its write
    var all: DataFrame = null
    assert(SparkTestBase.framesComputedFirst(spark) {
      all = graft.etl.XcmExport.dumpXcmDay(transfers, candidates,
        "2024-03-02", dir)
    } == 0)
    assert(all.count() == 4 &&
      all.select("log_dt").distinct().count() == 2)
    // with price dims the export values at the as-of price; chain
    // 22000 dispatches the Acala-style parser, so the price-log key is
    // the CANONICALIZED token-JSON asset key (the per-chain seam
    // reaching the USD path): priced 6.0 at t-30s → sent 1000 × 6.0
    val ksmKey = """{"Token":"KSM"}~22000"""
    val priceLog = Seq((ksmKey, 22000, ts(4970), 6.0))
      .toDF("asset", "chain_id", "index_ts", "price_usd")
    val chains = Seq((22000, ksmKey, 12))
      .toDF("chain_id", "native_asset", "decimals")
    val day1 = graft.etl.XcmExport.dumpXcmDay(transfers, candidates,
      "2024-03-01", dir, Some(Dump.UsdDims(priceLog, chains)))
      .filter(col("log_dt") === "2024-03-01")
    val priced = day1.filter(
        col("origination_extrinsic_id") === "5-1").head
    assert(priced.getAs[Double]("price_usd") == 6.0)
    assert(priced.getAs[Double]("origination_amount_sent_usd") == 6000.0)
    assert(priced.getAs[Double]("destination_amount_received_usd")
      == 5940.0)
    // the DOT transfer's asset key has no price point → stays null
    val unpriced = day1.filter(
      col("origination_extrinsic_id") === "6-1").head
    assert(unpriced.isNullAt(unpriced.fieldIndex("price_usd")))
    // the serving-view tier covers the export table (trailing window
    // over origination_ts; fixture timestamps live near the epoch, so
    // the anchor does too)
    val views = graft.etl.Views.register(spark, "t", dir,
      new java.sql.Timestamp(86400L * 1000))
    assert(views.keySet == Set("xcmtransfers"))
    assert(views("xcmtransfers").count() == 4)
    assert(spark.sql("SELECT count(*) FROM dune_t_xcmtransfers")
      .collect().head.getLong(0) == 4L)
  }

  test("dune xcmtransfer hand-off: 5-column shape, length-42 render " +
      "guard, newest-first order, headered csv") {
    import org.apache.spark.sql.functions._
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    val alice =
      "d43593c715fdd31c61141abd04a99fd6822c8558854ccde39a5684e7a56da27d"
    val h160 = "0x" + "ab" * 20 // 42 chars — EVM address, pass-through
    val transfers = Seq(
      (ts(5000), "0x" + alice, h160, 2000, 2004),
      (ts(6000), null.asInstanceOf[String], "0x" + alice, 2004, 2000),
      (ts(4000), h160, null.asInstanceOf[String], 2006, 2000))
      .toDF("source_ts", "from_address", "dest_address", "chain_id",
        "chain_id_dest")
    val out = graft.etl.XcmExport.duneXcmTransfers(transfers).collect()
    // ref substrateetl.js:527 `order by sourceTS desc`
    assert(out.map(_.getAs[java.sql.Timestamp]("ts").getTime / 1000)
      .toSeq == Seq(6000L, 5000L, 4000L))
    val aliceRelay = graft.functions.Codec.ss58Encode(
      graft.functions.Codec.hexToBytes(alice), 0)
    assert(aliceRelay ==
      "15oF4uVJwmo4TdGW7VfQxNLavjCXviqxT9S1MgbjMNHr6Sp5")
    val byTs = out.map(r =>
      r.getAs[java.sql.Timestamp]("ts").getTime / 1000 -> r).toMap
    // > 42 chars → relay ss58; exactly 42 (H160) and null pass through
    assert(byTs(5000L).getAs[String]("from_ss58") == aliceRelay &&
      byTs(5000L).getAs[String]("to_ss58") == h160)
    assert(byTs(6000L).getAs[String]("from_ss58") == null &&
      byTs(6000L).getAs[String]("to_ss58") == aliceRelay)
    assert(byTs(4000L).getAs[String]("from_ss58") == h160 &&
      byTs(4000L).getAs[String]("to_ss58") == null)
    assert(byTs(5000L).getAs[Int]("src_chain_id") == 2000 &&
      byTs(5000L).getAs[Int]("dest_chain_id") == 2004)
    // the csv hand-off: headered, same five columns, re-readable
    val dir = java.nio.file.Files
      .createTempDirectory("graft_dune_xcm").toString + "/out"
    graft.etl.XcmExport.dumpDuneXcmTransfers(transfers, dir)
    val back = spark.read.option("header", "true").csv(dir)
    assert(back.columns.toSeq ==
      Seq("ts", "from_ss58", "to_ss58", "src_chain_id", "dest_chain_id"))
    assert(back.count() == 3)
    assert(back.filter(col("from_ss58") === aliceRelay).count() == 1)
  }

  test("xcm messages export: matched pairs with payload, para ids, " +
      "relay placement") {
    import org.apache.spark.sql.functions._
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    // msg_hash, incoming, chain_id, chain_id_dest, sent_at, block_ts,
    // block_number, msg, msg_type, version
    val messages = Seq(
      ("0xm1", 0, 21002, 22004, 10L, ts(1000), 100L,
        "0xdeadbeef", "hrmp", "v3"),
      ("0xm1", 1, 21002, 22004, 12L, ts(1006), 205L,
        null.asInstanceOf[String], null.asInstanceOf[String],
        null.asInstanceOf[String]),
      // unmatched outgoing (no incoming twin) → absent from the export
      ("0xm2", 0, 21002, 22004, 50L, ts(2000), 300L,
        "0xffff", "ump", "v3"))
      .toDF("msg_hash", "incoming", "chain_id", "chain_id_dest",
        "sent_at", "block_ts", "block_number", "msg", "msg_type",
        "version")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_xcmmsg_spec").toString
    // one table: no shared frame is computed ahead of the write
    var landed: DataFrame = null
    assert(SparkTestBase.framesComputedFirst(spark) {
      landed = graft.etl.XcmExport.dumpXcmMessagesDay(messages,
        "2024-03-01", dir)
    } == 0)
    val out = landed.collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[String]("msg_hash") == "0xm1")
    assert(r.getAs[Int]("origination_para_id") == 1002) // − 20000
    assert(r.getAs[Int]("destination_para_id") == 2004)
    assert(r.getAs[Long]("relayed_at") == 10L &&
      r.getAs[Long]("included_at") == 12L)
    assert(r.getAs[Long]("destination_block_number") == 205L)
    assert(r.getAs[String]("msg") == "0xdeadbeef" &&
      r.getAs[String]("msg_type") == "hrmp")
  }
}
