package graft

import graft.etl.Rewards
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

/** Property pin for the P7 reward extraction: for RANDOM per-extrinsic
  * event sequences (era markers, classic rewards, dApp rewards carrying
  * their own era, zero payouts, interleaved noise), a driver-side
  * SEQUENTIAL replay of the reference's imperative loop
  * (indexer.js:3941 processRawFeedRewards — a mutable `era` variable
  * walked down the event list) must equal the Spark era carry on the
  * same corpus — both the flat-grain `rewardRows` and `Dump.rewards`
  * over the corpus wrapped as raw blocks. The oracle query (p7_reward_era) proves one fixed
  * synthesis; this proves the operator over the space of orderings —
  * markers after rewards, repeated markers, marker-less extrinsics,
  * dApp rewards that re-point the running era mid-list. */
class RewardsPropertySpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  /** One event: (section, method, data JSON, expected role fields). */
  private case class Ev(section: String, method: String, data: String)

  private val genEvent: Gen[Ev] = Gen.frequency(
    2 -> Gen.choose(0L, 50L).map(era =>
      Ev("staking", "PayoutStarted", s"""{"eraIndex":$era}""")),
    4 -> (for {
      acct <- Gen.choose(0, 9)
      amt <- Gen.choose(0L, 5L) // zeros common — the skip path
    } yield Ev("staking", "Rewarded",
      s"""{"stash":"s$acct","amount":$amt}""")),
    1 -> (for {
      acct <- Gen.choose(0, 9)
      era <- Gen.choose(100L, 120L)
      amt <- Gen.choose(0L, 5L)
    } yield Ev("dappsStaking", "Reward",
      s"""{"account":"d$acct","era":$era,"amount":$amt}""")),
    // slashes ride the reward predicate (chainparser.js:3898) but their
    // value negates (chainparser.js:4094) and the value>0 skip drops
    // them — they must never emit, whatever the interleaving
    1 -> (for {
      acct <- Gen.choose(0, 9)
      amt <- Gen.choose(0L, 5L)
    } yield Ev("staking", "Slashed",
      s"""{"stash":"s$acct","amount":$amt}""")),
    2 -> Gen.oneOf(
      Ev("system", "ExtrinsicSuccess", """{"weight":1}"""),
      Ev("balances", "Deposit", """{"amount":7}""")))

  private val genExtrinsic: Gen[List[Ev]] =
    Gen.choose(0, 12).flatMap(n => Gen.listOfN(n, genEvent))

  /** [[genEvent]] plus markers whose era does not parse. */
  private val genNestedExtrinsic: Gen[List[Ev]] =
    Gen.choose(0, 12).flatMap(n => Gen.listOfN(n, Gen.frequency(
      9 -> genEvent,
      1 -> Gen.oneOf(
        Ev("staking", "PayoutStarted", """{"eraIndex":"n/a"}"""),
        Ev("staking", "PayoutStarted", """{"validatorStash":"v"}"""),
        Ev("dappsStaking", "Reward",
          """{"account":"d1","era":"n/a","amount":3}""")))))

  /** The reference loop, verbatim semantics: walk events in order,
    * markers update `era`, positive rewards emit with the era value AT
    * that point (None before any marker). */
  private def sequentialReplay(extrinsics: Seq[(Int, List[Ev])])
      : Set[(Int, Int, Option[Long], String, Long)] = {
    val out = Set.newBuilder[(Int, Int, Option[Long], String, Long)]
    for ((extId, evs) <- extrinsics) {
      var era: Option[Long] = None
      for ((ev, idx) <- evs.zipWithIndex) {
        def field(k: String): Option[String] = {
          val m = (s""""$k":("[^"]*"|\\d+)""").r
          m.findFirstMatchIn(ev.data).map(_.group(1).stripPrefix("\"")
            .stripSuffix("\""))
        }
        // a marker whose era does not parse as a number leaves the
        // running era as it was
        if (ev.section == "staking" && ev.method == "PayoutStarted")
          era = field("eraIndex").flatMap(_.toLongOption).orElse(era)
        val isDapp = ev.section == "dappsStaking" && ev.method == "Reward"
        if (isDapp) era = field("era").flatMap(_.toLongOption).orElse(era)
        val isSlash = ev.section == "staking" && ev.method == "Slashed"
        val isReward = isDapp || isSlash ||
          (ev.section == "staking" && ev.method == "Rewarded")
        if (isReward) {
          val sign = if (isSlash) -1L else 1L
          val amt = sign * field("amount").map(_.toLong).getOrElse(0L)
          if (amt > 0) {
            val acct = field("stash").orElse(field("account")).get
            out += ((extId, idx, era, acct, amt))
          }
        }
      }
    }
    out.result()
  }

  test("window form == sequential replay over random event sequences") {
    import spark.implicits._
    val corpus = Gen.listOfN(120, genExtrinsic)
      .apply(Gen.Parameters.default.withSize(100),
        org.scalacheck.rng.Seed(42L)).get
      .zipWithIndex.map { case (evs, i) => (i, evs) }
    val expected = sequentialReplay(corpus)
    val flat = corpus.flatMap { case (extId, evs) =>
      evs.zipWithIndex.map { case (ev, idx) =>
        (0, extId.toLong, 0, idx, ev.section, ev.method, ev.data)
      }
    }.toDF("chain_id", "number", "ext_idx", "event_idx",
      "section", "method", "data")
    val got = Rewards
      .rewardRows(flat, Seq("chain_id", "number", "ext_idx"))
      .select("number", "event_idx", "era", "account_pub", "amount_raw")
      .collect()
      .map(r => (r.getLong(0).toInt, r.getInt(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)),
        r.getString(3),
        r.getDecimal(4).longValueExact))
      .toSet
    assert(got == expected)
    // the generated corpus must actually exercise the interesting
    // cases, or the equality is vacuous
    assert(expected.exists(_._3.isEmpty), "no marker-less reward drawn")
    assert(expected.exists(_._3.exists(_ >= 100)), "no dApp era drawn")
    assert(expected.nonEmpty)
    // slashes were drawn AND none emitted (they negate, then the
    // value>0 skip drops them — the reference's end-to-end behavior)
    assert(corpus.exists(_._2.exists(e =>
      e.section == "staking" && e.method == "Slashed" &&
        !e.data.contains("\"amount\":0"))), "no positive slash drawn")
  }

  test("Dump.rewards over the same walk wrapped as raw blocks == " +
      "sequential replay") {
    import spark.implicits._
    import graft.model.{RawBlock, RawEvent, RawExtrinsic}
    val corpus = Gen.listOfN(120, genNestedExtrinsic)
      .apply(Gen.Parameters.default.withSize(100),
        org.scalacheck.rng.Seed(43L)).get
      .zipWithIndex.map { case (evs, i) => (i, evs) }
    val expected = sequentialReplay(corpus)
    // four extrinsics per block; each extrinsic's events are stored
    // REVERSED so the walk must order them by event_idx itself
    val blocks = corpus.grouped(4).map { exs =>
      val number = exs.head._1 / 4
      RawBlock(0, number.toLong, s"0xb$number", s"0xp$number",
        java.sql.Timestamp.valueOf("2024-03-01 12:00:00"), 1, null,
        finalized = true,
        extrinsics = exs.map { case (extId, evs) =>
          RawExtrinsic(extId % 4, s"0xe$extId", "staking",
            "payoutStakers", """{"section":"staking"}""", signed = false,
            null, 0.0, evs.zipWithIndex.map { case (ev, idx) =>
              RawEvent(idx, ev.section, ev.method, ev.data) }.reverse,
            Nil)
        }, logs = Nil)
    }.toSeq
    val got = graft.etl.Dump.rewards(blocks.toDF(), "2024-03-01")
      .select("event_id", "era", "account_pub_key", "amount_raw")
      .collect()
      .map { r =>
        val Array(number, ext, idx) = r.getString(0).split("-").map(_.toInt)
        (number * 4 + ext, idx,
          if (r.isNullAt(1)) None else Some(r.getLong(1)),
          r.getString(2), r.getDecimal(3).longValueExact)
      }.toSet
    assert(got == expected)
    assert(expected.exists(_._3.isEmpty), "no marker-less reward drawn")
    assert(expected.exists(_._3.exists(_ >= 100)), "no dApp era drawn")
    assert(corpus.exists(_._2.exists(_.data.contains("n/a"))),
      "no unparseable marker era drawn")
    assert(corpus.exists(_._2.exists(e =>
      e.section == "staking" && e.method == "Slashed" &&
        !e.data.contains("\"amount\":0"))), "no positive slash drawn")
  }
}
