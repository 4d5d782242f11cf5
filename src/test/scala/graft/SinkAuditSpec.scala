package graft

import org.scalatest.funsuite.AnyFunSuite

/** Sink audit, in PlanAudit's allow-list style: every etl table lands
  * through `Writers.publish`, so no `graft/etl` source except the sink
  * itself (Writers) and the layout policy (Layout's bucketed and sorted
  * rewrites) may call `.write` — bar the two single-file CSV hand-offs,
  * which are file exports, not tables. Frames that several tables
  * share are passed to the publish, which owns their cache, so no
  * source but Writers may call `.persist(`, `.unpersist(` or
  * `materialize(` (a `localCheckpoint` is not a persist). A table a
  * publish just landed is read through the publish's return value, so
  * no `graft/etl` or `graft/operators` source may call
  * `.read.parquet(` but Layout (its compaction input) and Views (the
  * view catalog). A new inline write, hand-rolled shared-frame
  * lifetime or re-read of a dump fails here, naming its file, line and
  * enclosing `def`. */
class SinkAuditSpec extends AnyFunSuite {
  private val etlDir = new java.io.File("src/main/scala/graft/etl")
  private val SinkFiles = Set("Writers.scala", "Layout.scala")
  private val FileExports = Set(
    ("XcmExport.scala", "dumpDuneXcmTransfers"),
    ("Snapshot.scala", "transformBalancesFeed"))

  private val ParquetReaders = Set("Layout.scala", "Views.scala")

  private def sources(dir: java.io.File): Seq[java.io.File] = {
    val files = Option(dir.listFiles()).toSeq.flatten
      .filter(_.getName.endsWith(".scala")).sortBy(_.getName)
    assert(files.size > 10, s"no sources under ${dir.getAbsolutePath}")
    files
  }

  private lazy val etlSources = sources(etlDir)

  /** (file, line, enclosing def) of each match of `call` outside
    * comments. */
  private def sites(call: scala.util.matching.Regex)(
      f: java.io.File): Seq[(String, Int, String)] = {
    val src = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
    // blank comments out character for character, so offsets and line
    // numbers stay those of the source
    val code = """(?s)/\*.*?\*/|//[^\n]*""".r.replaceAllIn(src, m =>
      scala.util.matching.Regex.quoteReplacement(
        m.matched.map(c => if (c == '\n') c else ' ')))
    val defs = """\bdef\s+(\w+)""".r.findAllMatchIn(code)
      .map(m => (m.start, m.group(1))).toSeq
    call.findAllMatchIn(code).map { m =>
      (f.getName, code.take(m.start).count(_ == '\n') + 1,
        defs.takeWhile(_._1 < m.start).lastOption.fold("")(_._2))
    }.toSeq
  }

  test("only Writers and Layout write in graft/etl, bar the CSV hand-offs") {
    val writes = etlSources.filterNot(f => SinkFiles(f.getName))
      .flatMap(sites("""\.write\b""".r))
    val stray = writes.filterNot { case (f, _, d) => FileExports((f, d)) }
    assert(stray.isEmpty, stray.map { case (f, l, d) => s"$f:$l in $d" }
      .mkString("writes that bypass Writers.publish: ", ", ", ""))
    // an exemption whose function no longer writes would let a later
    // write under that name through unseen
    assert(FileExports.forall(e => writes.exists(s => (s._1, s._3) == e)),
      s"stale exemption: ${FileExports -- writes.map(s => (s._1, s._3))}")
  }

  test("only Writers persists, unpersists or materializes in graft/etl") {
    val stray = etlSources.filterNot(_.getName == "Writers.scala")
      .flatMap(sites("""\.(persist|unpersist)\(|\bmaterialize\(""".r))
    assert(stray.isEmpty, stray.map { case (f, l, d) => s"$f:$l in $d" }
      .mkString("shared-frame lifetimes outside Writers.publish: ", ", ",
        ""))
  }

  test("no graft/etl or graft/operators source re-reads parquet, bar " +
      "Layout's compaction input and the Views catalog") {
    val reads = (etlSources ++
      sources(new java.io.File("src/main/scala/graft/operators")))
      .flatMap(sites("""\.read\s*\.parquet\(""".r))
    val stray = reads.filterNot(r => ParquetReaders(r._1))
    assert(stray.isEmpty, stray.map { case (f, l, d) => s"$f:$l in $d" }
      .mkString("parquet re-reads (read a landed table through the " +
        "publish's return value): ", ", ", ""))
    assert(ParquetReaders.forall(f => reads.exists(_._1 == f)),
      s"stale exemption: ${ParquetReaders -- reads.map(_._1)}")
  }
}
