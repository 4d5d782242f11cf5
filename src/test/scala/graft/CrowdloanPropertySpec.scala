package graft

import graft.etl.Rewards
import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite

/** Property pin for the crowdloan pairing: for RANDOM per-extrinsic
  * event sequences (repeated Contributed on one (account, fund) key,
  * memo-before-contribution, memo-only rows, interleaved funds) plus a
  * random remark list, a driver-side SEQUENTIAL replay of the
  * reference's accountParaID map walk (indexer.js:4018-4090 —
  * insertion-ordered map, last-write-wins amount/memo, then the
  * remarkIndex walk over memo-less entries) must equal the Spark
  * pairing on the same corpus — both the flat-grain `crowdloanRows`
  * and `Dump.crowdloan` over the corpus wrapped as raw blocks. */
class CrowdloanPropertySpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private case class Ev(method: String, who: Int, fund: Int,
      amount: Long, memo: String)

  private val genEvent: Gen[Ev] = Gen.frequency(
    3 -> (for {
      who <- Gen.choose(0, 3)
      fund <- Gen.choose(0, 2)
      amt <- Gen.choose(1L, 99L)
    } yield Ev("Contributed", who, fund, amt, null)),
    2 -> (for {
      who <- Gen.choose(0, 3)
      fund <- Gen.choose(0, 2)
      m <- Gen.choose(0, 9)
    } yield Ev("MemoUpdated", who, fund, 0L, s"m$m")))

  private val genExtrinsic: Gen[(List[Ev], List[String])] = for {
    evs <- Gen.choose(0, 10).flatMap(n => Gen.listOfN(n, genEvent))
    nRemarks <- Gen.choose(0, 3)
    remarks <- Gen.listOfN(nRemarks,
      Gen.choose(0, 99).map(i => s"r$i"))
  } yield (evs, remarks)

  /** The reference walk, verbatim semantics: an insertion-ordered map
    * keyed accountParaID; Contributed sets/overwrites amount;
    * MemoUpdated sets/overwrites memo (amount 0 if absent); then
    * remarks assign positionally to memo-less entries in map order. */
  private def sequentialReplay(extId: Int, evs: List[Ev],
      remarks: List[String])
      : Seq[(Int, String, Long, Long, String, String)] = {
    val order = scala.collection.mutable.LinkedHashMap
      .empty[(Int, Int), (Int, Long, String)] // key -> (firstIdx, amt, memo)
    for ((ev, idx) <- evs.zipWithIndex) {
      val k = (ev.who, ev.fund)
      val cur = order.get(k)
      ev.method match {
        case "Contributed" =>
          order(k) = (cur.map(_._1).getOrElse(idx), ev.amount,
            cur.map(_._3).orNull)
        case "MemoUpdated" =>
          order(k) = (cur.map(_._1).getOrElse(idx),
            cur.map(_._2).getOrElse(0L), ev.memo)
      }
    }
    var remarkIdx = 0
    order.toSeq.map { case ((who, fund), (_, amt, memo)) =>
      val remark = if (memo == null && remarkIdx < remarks.length) {
        val r = remarks(remarkIdx); remarkIdx += 1; r
      } else null
      (extId, s"u$who", fund.toLong, amt, memo, remark)
    }
  }

  test("groupBy+max_by+positional remarks == the reference map walk") {
    import spark.implicits._
    val params = Gen.Parameters.default.withSize(60)
    val corpus = (0 until 150).map { i =>
      val (evs, remarks) = genExtrinsic
        .apply(params, org.scalacheck.rng.Seed(11L + i)).get
      (i, evs, remarks)
    }
    val expected = corpus.flatMap { case (i, evs, rs) =>
      sequentialReplay(i, evs, rs)
    }.toSet

    val events = corpus.flatMap { case (i, evs, _) =>
      evs.zipWithIndex.map { case (ev, idx) =>
        val data = ev.method match {
          case "Contributed" =>
            s"""{"who":"u${ev.who}","fundIndex":${ev.fund},"amount":${ev.amount}}"""
          case _ =>
            s"""{"who":"u${ev.who}","paraId":${ev.fund},"memo":"${ev.memo}"}"""
        }
        (i, idx, "crowdloan", ev.method, data)
      }
    }.toDF("ext", "event_idx", "section", "method", "data")
    val remarks = corpus.flatMap { case (i, _, rs) =>
      rs.zipWithIndex.map { case (r, idx) => (i, idx, r) }
    }.toDF("ext", "remark_idx", "remark")

    val got = Rewards.crowdloanRows(events, Seq("ext"), Some(remarks))
      .collect()
      .map(r => (r.getAs[Int]("ext"), r.getAs[String]("account_pub"),
        r.getAs[Long]("fund_id"),
        r.getAs[java.math.BigDecimal]("amount_raw").longValueExact,
        r.getAs[String]("memo"), r.getAs[String]("remark")))
      .toSet
    assert(got == expected)
    // the corpus must actually exercise the interesting shapes
    assert(expected.exists(_._5 != null), "no memo drawn")
    assert(expected.exists(_._6 != null), "no remark assigned")
    assert(expected.exists(e => e._5 == null && e._6 == null),
      "no leftover memo-less pair")
    assert(expected.exists(_._4 == 0L), "no memo-only (amount 0) pair")
  }

  test("Dump.crowdloan over the same walk wrapped as raw blocks == " +
      "the reference map walk") {
    import spark.implicits._
    import graft.model.{RawBlock, RawEvent, RawExtrinsic}
    val params = Gen.Parameters.default.withSize(60)
    val corpus = (0 until 150).map { i =>
      val (evs, remarks) = genExtrinsic
        .apply(params, org.scalacheck.rng.Seed(11L + i)).get
      (i, evs, remarks)
    }
    val expected = corpus.flatMap { case (i, evs, rs) =>
      sequentialReplay(i, evs, rs)
    }.toSet
    // the remarks ride the extrinsic's call tree as system.remark calls
    // (one with a non-remark call between them); events are stored
    // REVERSED so the walk must order them by event_idx itself
    def batch(remarks: List[String]): String = {
      val calls = remarks.map(r =>
        s"""{"section":"system","method":"remark","args":{"remark":"$r"}}""")
      val withNoise = calls.take(1) ++
        Seq("""{"section":"crowdloan","method":"contribute","args":{}}""") ++
        calls.drop(1)
      s"""{"section":"utility","method":"batch","args":{},"calls":[${withNoise.mkString(",")}]}"""
    }
    val blocks = corpus.grouped(5).map { exs =>
      val number = exs.head._1 / 5
      RawBlock(0, number.toLong, s"0xb$number", s"0xp$number",
        java.sql.Timestamp.valueOf("2024-03-01 12:00:00"), 1, null,
        finalized = true,
        extrinsics = exs.map { case (i, evs, rs) =>
          RawExtrinsic(i % 5, s"0xe$i", "utility", "batch", batch(rs),
            signed = false, null, 0.0, evs.zipWithIndex.map {
              case (ev, idx) =>
                val data = ev.method match {
                  case "Contributed" =>
                    s"""{"who":"u${ev.who}","fundIndex":${ev.fund},"amount":${ev.amount}}"""
                  case _ =>
                    s"""{"who":"u${ev.who}","paraId":${ev.fund},"memo":"${ev.memo}"}"""
                }
                RawEvent(idx, "crowdloan", ev.method, data)
            }.reverse, Nil)
        }, logs = Nil)
    }.toSeq
    val got = graft.etl.Dump.crowdloan(blocks.toDF(), "2024-03-01")
      .collect()
      .map { r =>
        val Array(number, ext) =
          r.getAs[String]("extrinsic_id").split("-").map(_.toInt)
        (number * 5 + ext, r.getAs[String]("account_pub_key"),
          r.getAs[Long]("para_id"),
          r.getAs[java.math.BigDecimal]("amount_raw").longValueExact,
          r.getAs[String]("memo"), r.getAs[String]("remark"))
      }.toSet
    assert(got == expected)
    assert(expected.exists(_._6 != null), "no remark assigned")
    assert(expected.exists(e => e._5 == null && e._6 == null),
      "no leftover memo-less pair")
    assert(expected.exists(_._4 == 0L), "no memo-only (amount 0) pair")
    assert(corpus.exists { case (i, evs, rs) =>
      sequentialReplay(i, evs, rs).count(_._5 == null) < rs.size
    }, "no leftover remark")
  }
}
