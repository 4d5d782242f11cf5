package graft

import org.scalatest.funsuite.AnyFunSuite

/** Ground truth for the sketch-quantile scale path: x8's
  * approx_percentile answers must sit close to x7's exact rank-selection
  * answers on the same table. With accuracy 1000 and per-source groups
  * of ~25-250 docs the sketch is near-exact; the tolerance below allows
  * one rank of drift at the observed length spread.
  */
class TextPropertySpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  test("x8 sketch quantiles track x7 exact quantiles per source") {
    val exact = SparkEntry.queries("x7_length_quantiles")(
      spark, SparkTestBase.sf)
      .select("source", "median_chars", "p90_chars").collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getLong(2))).toMap
    val approx = SparkEntry.queries("x8_approx_quantiles")(
      spark, SparkTestBase.sf)
      .select("source", "median_chars", "p90_chars").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(exact.keySet == approx.keySet)
    assert(exact.nonEmpty)
    exact.foreach { case (src, (medEx, p90Ex)) =>
      val (medAp, p90Ap) = approx(src)
      // exact median may interpolate between two ranks; the sketch
      // returns an observed value — allow the neighboring-rank gap
      assert(math.abs(medAp - medEx) <= 25.0,
        s"$src median: sketch $medAp vs exact $medEx")
      assert(math.abs(p90Ap - p90Ex) <= 25L,
        s"$src p90: sketch $p90Ap vs exact $p90Ex")
    }
  }

  test("x12 distributed BPE merges equal a sequential reference trainer") {
    // Reference implementation: the textbook sequential BPE trainer
    // (Sennrich et al. 2016) over a (word -> freq) vocab, with x12's
    // tie-break (max count, then lexicographic pair). Greedy
    // left-to-right merge application, non-overlapping.
    // code-POINT split, matching production's Java-regex split("")
    // which never cuts inside a surrogate pair
    def chars(w: String): Vector[String] =
      w.codePoints().toArray.toVector
        .map(cp => new String(Character.toChars(cp)))
    def refBpe(words: Map[String, Long], k: Int): Seq[(String, String, Long)] = {
      var vocab: Map[Vector[String], Long] = words
        .groupMapReduce(w => chars(w._1))(_._2)(_ + _)
      val out = scala.collection.mutable.ArrayBuffer[(String, String, Long)]()
      for (_ <- 1 to k) {
        val counts = scala.collection.mutable.Map[(String, String), Long]()
        vocab.foreach { case (syms, f) =>
          syms.zip(syms.tail).foreach { p =>
            counts(p) = counts.getOrElse(p, 0L) + f
          }
        }
        if (counts.nonEmpty) {
          val ((l, r), c) = counts.toSeq
            .minBy { case ((l, r), c) => (-c, l, r) }
          out += ((l, r, c))
          vocab = vocab.groupMapReduce { case (syms, _) =>
            val acc = scala.collection.mutable.ArrayBuffer[String]()
            syms.foreach { x =>
              if (acc.nonEmpty && acc.last == l && x == r)
                acc(acc.length - 1) = l + r
              else acc += x
            }
            acc.toVector
          }(_._2)(_ + _)
        }
      }
      out.toSeq
    }
    // the spark side's vocab, rebuilt with the operator's exact
    // pre-tokenizer expression (same escaping, same regex)
    val pretok = org.apache.spark.sql.functions.expr(
      "regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \\\\t\\\\n\\\\f\\\\r]', 0)")
    val words = SparkTestBase.spark.read
      .parquet(s"${SparkTestBase.sf}/documents.parquet")
      .select(org.apache.spark.sql.functions.explode(pretok).as("w"))
      .groupBy("w").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val expected = refBpe(words, 16)
    val got = operators.TextOps.bpeMerges(SparkTestBase.spark,
      SparkTestBase.sf)
      .collect().map(r => (r.getString(1), r.getString(2), r.getLong(4)))
      .toSeq
    assert(got == expected)
    assert(got.size == 16)
  }

  test("x12 size dispatch: distributed and driver merge loops agree") {
    // the ComponentsSpec pattern: crossing the dispatch threshold must
    // never change results — force the distributed loop (cap 0) and
    // compare against the driver loop on the same corpus
    val s = SparkTestBase.spark
    val dist = operators.TextOps.runMergeLoop(s, SparkTestBase.sf, 16,
      vocabCap = 0L)
    val drv = operators.TextOps.runMergeLoop(s, SparkTestBase.sf, 16)
    assert(dist == drv)
    assert(dist.size == 16)
  }

  test("x13 encode counts equal the reference trainer's segmentation") {
    import org.apache.spark.sql.functions.{explode, expr}
    val s = SparkTestBase.spark
    val merges = operators.TextOps.trainedMerges(s, SparkTestBase.sf)
      .map(m => (m._2, m._3))
    // reference encode: replay merges in rank order, each a greedy
    // non-overlapping left-to-right pass
    def refEncode(word: String): Int = {
      // code-point split, matching production (see the x12 spec note)
      var syms = word.codePoints().toArray.toVector
        .map(cp => new String(Character.toChars(cp)))
      merges.foreach { case (l, r) =>
        if (syms.length > 1) {
          val acc = scala.collection.mutable.ArrayBuffer[String]()
          syms.foreach { x =>
            if (acc.nonEmpty && acc.last == l && x == r)
              acc(acc.length - 1) = l + r
            else acc += x
          }
          syms = acc.toVector
        }
      }
      syms.length
    }
    // expected per-lang (sum_words, sum_tokens) computed driver-side
    // over the same pre-tokenization
    val pretok = expr(
      "regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \\\\t\\\\n\\\\f\\\\r]', 0)")
    val words = s.read.parquet(s"${SparkTestBase.sf}/documents.parquet")
      .select(org.apache.spark.sql.functions.col("lang"),
        explode(pretok).as("w"))
      .groupBy("lang", "w").count().collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val expected = words.groupBy(_._1).view.mapValues { ws =>
      (ws.map(_._3).sum, ws.map(t => t._3 * refEncode(t._2)).sum)
    }.toMap
    val got = SparkEntry.queries("x13_bpe_encode")(s, SparkTestBase.sf)
      .collect().map(r => r.getString(0) ->
        (r.getLong(2), r.getLong(3))).toMap
    assert(got == expected)
    assert(got.nonEmpty)
    // every encodeWord call agrees with the reference fold, word by word
    words.foreach { case (_, w, _) =>
      assert(operators.TextOps.encodeWord(w, merges).length == refEncode(w),
        s"encodeWord mismatch on '$w'")
    }
  }

  test("scrub redacts planted emails/URLs/blocklist terms") {
    // the synthetic corpus has no emails/URLs (x10's blocklist term is
    // what the oracle exercises), so the email/URL paths are pinned here
    // on planted strings
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.col
    val rows = Seq(
      "Contact bob1@example.com or see https://docs.example.org/a_b now",
      "the customer met a supplier yesterday",
      "nothing sensitive here").toDF("text")
      .select(graft.operators.TextOps.scrub(col("text")).as("r"))
      .collect().map(_.getString(0))
    assert(rows(0) == "contact <EMAIL> or see <URL> now")
    assert(rows(1) == "the <ENTITY> met a <ENTITY> yesterday")
    assert(rows(2) == "nothing sensitive here")
  }
}
