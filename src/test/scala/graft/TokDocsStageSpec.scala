package graft

import graft.operators._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The shared tokenized-corpus stage (round 19): one row per document,
  * token arrays identical to the canonical `toks` definition, memoized
  * per (session, dir) with a working reset hook — the invariants every
  * x14–x17/x21–x23 consumer's oracle equivalence rests on. Then the
  * [[StageMemo]] protocol, checked on every shared-stage memo. */
class TokDocsStageSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  test("stage preserves the documents grain and the canonical " +
      "tokenization; memo reuses one frame until reset") {
    val d = SparkTestBase.sf
    val docs = Tables.documents(spark, d)
    val stage = TextOps.tokenizedDocs(spark, d)
    assert(stage.columns.toSeq ==
      Seq("doc_id", "source", "lang", "ts"))
    assert(stage.count() == docs.count(),
      "stage must carry every document exactly once")
    // token arrays match split(trim(text), '\s+') doc by doc
    val mism = stage.alias("s")
      .join(docs.select(col("doc_id"),
        expr("split(trim(text), '\\\\s+')").as("want")).alias("w"),
        "doc_id")
      .filter(col("s.ts") =!= col("w.want"))
      .count()
    assert(mism == 0L, s"$mism docs tokenize differently via the stage")
    // memoized: same frame back; reset: a new one
    assert(TextOps.tokenizedDocs(spark, d) eq stage)
    TextOps.resetTokenizedDocs()
    assert(!(TextOps.tokenizedDocs(spark, d) eq stage),
      "reset must drop the memo so a bench run times the stage cold")
  }

  /** Every shared-stage memo, with the reset hook Bench and perfbench
    * call for it. */
  private val memos: Seq[(String, StageMemo[_], () => Unit)] = Seq(
    ("tokdocs", TextOps.tokDocsStage, () => TextOps.resetTokenizedDocs()),
    ("cc_labels", DedupOps.labelsStage,
      () => DedupOps.resetWordSetLabels()),
    ("lsh_pairs", DedupOps.lshStage, () => DedupOps.resetLshPairs()),
    ("bpe_merges", TextOps.mergesStage, () => TextOps.resetBpeMerges()),
    ("kmeans", VectorOps.kmeansStage, () => VectorOps.resetKmeans()),
    ("pca", VectorOps.pcaStage, () => VectorOps.resetPca()),
    ("lr", TextOps.lrStage, () => TextOps.resetLr()),
    ("pqadc", VectorOps.pqAdcStage, () => VectorOps.resetPqAdc()),
    ("evm_dataset", KeyOps.evmDsStage, () => KeyOps.resetEvmDataset()),
    ("contracts_dump", ContractOps.contractsDumpStage,
      () => ContractOps.resetContractsDump()),
    ("raw_day", etl.Dump.rawDayStage, () => etl.Dump.resetRawDay()))

  /** Ids of the checkpoint RDDs a memoized value holds blocks through. */
  private def checkpointRdds(v: Any): Seq[Int] = v match {
    case df: DataFrame =>
      df.queryExecution.analyzed.collect { case r: LogicalRDD => r.rdd.id }
    case m: Map[_, _] => m.values.toSeq.flatMap(checkpointRdds)
    case _ => Nil
  }

  private def persisted(v: Any): Seq[Int] =
    checkpointRdds(v).filter(spark.sparkContext.getPersistentRDDs.contains)

  private def ref(v: Any): AnyRef = v.asInstanceOf[AnyRef]

  /** The frame stages that hold checkpoint blocks at every SF (CC
    * labels do only past the driver union-find's edge cap), so the
    * release checks are not vacuous for them. */
  private val Checkpointed = Set("tokdocs", "lsh_pairs", "pqadc", "raw_day")

  test("every stage memo: a hit returns the same value, a new session " +
      "rebuilds, eviction and reset() release the checkpoint blocks") {
    val d = SparkTestBase.sf
    val other = Tables.configure(spark.newSession())
    memos.foreach { case (name, memo, resetHook) =>
      val v1 = memo(spark, d)
      assert(ref(memo(spark, d)) eq ref(v1), s"$name: a hit must reuse")
      assert(checkpointRdds(v1).nonEmpty || !Checkpointed(name),
        s"$name: a frame stage must hold its checkpoint")
      assert(persisted(v1) == checkpointRdds(v1),
        s"$name: the memoized value's checkpoint blocks are live")
      val v2 = memo(other, d)
      assert(!(ref(v2) eq ref(v1)),
        s"$name: a new session must get a fresh build")
      assert(ref(memo(other, d)) eq ref(v2), s"$name: keyed on the session")
      assert(persisted(v1).isEmpty,
        s"$name: eviction must release the old value's blocks")
      resetHook()
      assert(persisted(v2).isEmpty,
        s"$name: reset must release the memoized value's blocks")
    }
  }

  test("StageMemo.resetAll drops every memo and releases its blocks") {
    val d = SparkTestBase.sf
    val built = memos.map { case (name, memo, _) => (name, memo(spark, d)) }
    StageMemo.resetAll()
    built.foreach { case (name, v) =>
      assert(persisted(v).isEmpty, s"$name: resetAll must release blocks")
    }
    memos.zip(built).foreach { case ((name, memo, _), (_, v)) =>
      assert(!(ref(memo(spark, d)) eq ref(v)),
        s"$name: resetAll must drop the memo")
    }
  }
}
