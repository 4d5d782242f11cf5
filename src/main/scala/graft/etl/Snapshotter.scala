package graft.etl

import org.apache.spark.sql.DataFrame

/** The per-chain snapshot catalog — the dispatch tier of the snapshot
  * family (ref snapshot/snapshotter.js + its per-chain subclasses:
  * each chain's `handleSnapshot` walks a fixed set of storage items
  * and writes one rec stream; substrateetl.js instantiates the
  * subclass by chain and runs one placement per call).
  *
  * The extractor FUNCTIONS live with their domains
  * ([[Assets]]/[[Stakings]]/[[Democracy]]); this object is only the
  * composition the reference spreads across the subclass files: chain
  * name → ordered extractor set, each naming the decoded-state frames
  * it consumes. One [[handleSnapshot]] call emits the chain's full rec
  * union for a placement, and [[dumpChainSnapshot]] lands it through
  * the (log_dt, chain_name, hr)-partitioned writer — so a chain-day is
  * ONE call instead of a hand-assembled Seq[DataFrame].
  *
  * Scale shape: composition only — every frame passes through its
  * extractor's own plan (broadcast dims, row-wise projections; see the
  * extractor docs), and the union is a plan-level concat, no shuffle.
  * A missing input frame skips its extractor, mirroring the
  * reference's `if (res)` guards — a chain without the pallet (or a
  * bundle built from a partial decode) emits nothing for it rather
  * than failing the day.
  */
object Snapshotter {

  /** One snapshot placement: the (chain, block) identity every rec of
    * the run carries (ref snapshotter.js:70 setSnapshotInfo + :19
    * chainName/source), plus the chain's ss58 prefix and — for the
    * staking/dappStaking extractors — the era the reference latches
    * via setCurrentEra (snapshotter.js:83). */
  final case class Placement(chainName: String, source: String,
      blockNumber: Long, blockHash: String, tsSec: Long,
      ss58Prefix: Int = 42, era: Long = 0L)

  type Frames = Map[String, DataFrame]

  /** One catalog entry: `inputs` are the decoded-state frame keys the
    * extractor consumes (skipped whole when any is absent);
    * `build` returns the rec frames (most emit one; votingFor emits
    * the votingFor + delegatee pair like the reference's one loop
    * writing two rec families). */
  final case class Extractor(sectionStorage: String,
      inputs: Seq[String], build: (Frames, Placement) => Seq[DataFrame])

  private def one(section: String, inputs: Seq[String])(
      f: (Frames, Placement) => DataFrame): Extractor =
    Extractor(section, inputs, (m, p) => Seq(f(m, p)))

  /** tokens/balances.totalIssuance — the shape every chain shares
    * (bifrost.js:45-108, interlay.js:40, moonbeam.js, astar.js:44-60).
    * The registry dim only UPGRADES track_val/humanAmount where known
    * (issuanceSnapshots left-joins it), so it is not a gating input:
    * a bundle without "registry.issuance" still publishes every rec
    * with the bare asset key — the reference does the same when its
    * asset file has no entry. */
  private def issuance(section: String) =
    one(section, Seq(section)) { (m, p) =>
      val reg = m.getOrElse("registry.issuance", {
        val sp = m(section).sparkSession
        import sp.implicits._
        Seq.empty[(String, String, String, Int)]
          .toDF("asset_key", "name", "symbol", "decimals")
      })
      Assets.issuanceSnapshots(m(section), reg, section, p.chainName,
        p.source, p.blockNumber, p.blockHash, p.tsSec)
    }

  /** The relay catalog (polkadot.js:395-520; kusama.js subclasses it
    * unchanged): staking info + conviction voting + referenda +
    * treasury + bounties. */
  private val relay: Seq[Extractor] = Seq(
    one("stakings.info", Seq("staking.stakings")) { (m, p) =>
      Stakings.stakingInfoSnapshot(m("staking.stakings"), p.era,
        p.chainName, p.source, p.blockNumber, p.blockHash, p.tsSec)
    },
    Extractor("convictionVoting.votingFor",
      Seq("convictionVoting.casting", "convictionVoting.delegating"),
      (m, p) => Democracy.votingForSnapshots(
        m("convictionVoting.casting"), m("convictionVoting.delegating"),
        p.chainName, p.source, p.blockNumber, p.blockHash, p.tsSec,
        p.ss58Prefix)),
    one("referenda.referendumInfoFor",
      Seq("referenda.referendumInfoFor")) { (m, p) =>
      Democracy.referendaSnapshots(m("referenda.referendumInfoFor"),
        p.chainName, p.source, p.blockNumber, p.blockHash, p.tsSec)
    },
    one("treasury.proposals", Seq("treasury.proposals")) { (m, p) =>
      Democracy.treasurySnapshots(m("treasury.proposals"), p.chainName,
        p.source, p.blockNumber, p.blockHash, p.tsSec, p.ss58Prefix)
    },
    one("bounties.bounties", Seq("bounties.bounties")) { (m, p) =>
      Democracy.bountySnapshots(m("bounties.bounties"), p.chainName,
        p.source, p.blockNumber, p.blockHash, p.tsSec, p.ss58Prefix)
    })

  /** The dappStaking family (astar.js:108-368; shibuya.js runs the
    * protocolState/eraInfo/stakerInfo subset — absent frames skip). */
  private val dappStaking: Seq[Extractor] = Seq(
    one("dappStaking.activeProtocolState",
      Seq("dappStaking.activeProtocolState")) { (m, p) =>
      Stakings.dappStakingProtocolState(
        m("dappStaking.activeProtocolState"), p.chainName, p.source,
        p.blockNumber, p.blockHash, p.tsSec, p.era)
    },
    one("dappStaking.currentEraInfo",
      Seq("dappStaking.currentEraInfo")) { (m, p) =>
      Stakings.dappStakingEraInfo(m("dappStaking.currentEraInfo"),
        p.chainName, p.source, p.blockNumber, p.blockHash, p.tsSec,
        p.era)
    },
    one("dappStaking.stakerInfo", Seq("dappStaking.stakerInfo")) {
      (m, p) =>
        Stakings.dappStakingSnapshots(m("dappStaking.stakerInfo"),
          p.era, p.chainName, p.source, p.blockNumber, p.blockHash,
          p.tsSec, p.ss58Prefix)
    },
    one("inflation.inflationParams",
      Seq("inflation.inflationParams")) { (m, p) =>
      Stakings.inflationSnapshot(m("inflation.inflationParams"),
        "inflationParams", p.chainName, p.source, p.blockNumber,
        p.blockHash, p.tsSec, p.era)
    },
    one("inflation.activeInflationConfig",
      Seq("inflation.activeInflationConfig")) { (m, p) =>
      Stakings.inflationSnapshot(m("inflation.activeInflationConfig"),
        "activeInflationConfig", p.chainName, p.source, p.blockNumber,
        p.blockHash, p.tsSec, p.era)
    },
    one("dappStaking.integratedDApps",
      Seq("dappStaking.integratedDApps")) { (m, p) =>
      Stakings.dappStakingIntegratedDApps(
        m("dappStaking.integratedDApps"), p.chainName, p.source,
        p.blockNumber, p.blockHash, p.tsSec, p.era)
    },
    one("dappStaking.dAppTiers", Seq("dappStaking.dAppTiers")) {
      (m, p) =>
        Stakings.dappStakingTiers(m("dappStaking.dAppTiers"),
          p.chainName, p.source, p.blockNumber, p.blockHash, p.tsSec,
          p.era)
    },
    one("dappStaking.contractStake", Seq("dappStaking.contractStake")) {
      (m, p) =>
        Stakings.dappStakingContractStake(
          m("dappStaking.contractStake"), p.chainName, p.source,
          p.blockNumber, p.blockHash, p.tsSec, p.era)
    },
    one("dappStaking.eraRewards", Seq("dappStaking.eraRewards")) {
      (m, p) =>
        Stakings.dappStakingEraRewards(m("dappStaking.eraRewards"),
          p.chainName, p.source, p.blockNumber, p.blockHash, p.tsSec,
          p.era)
    })

  /** chain_name → ordered extractor set, mirroring each reference
    * subclass's handleSnapshot walk. Chain names as the reference
    * spells them (they become the partition value). */
  val catalogs: Map[String, Seq[Extractor]] = Map(
    // polkadot.js / kusama.js (subclass, same walk)
    "Polkadot" -> relay,
    "Kusama" -> relay,
    // polkadot_assethub.js
    "Polkadot_AssetHub" -> Seq(
      one("asset.asset", Seq("assets.asset")) { (m, p) =>
        Assets.assetRegistrySnapshots(m("assets.asset"), p.chainName,
          p.source, p.blockNumber, p.blockHash, p.tsSec)
      },
      one("asset.account", Seq("assets.account", "assets.asset")) {
        (m, p) =>
          Assets.assetHolderSnapshots(m("assets.account"),
            m("assets.asset"), p.chainName, p.source, p.blockNumber,
            p.blockHash, p.tsSec, p.ss58Prefix)
      }),
    // hydradx.js
    "HydraDx" -> Seq(
      one("pools.xyk", Seq("xyk.pools")) { (m, p) =>
        Assets.xykPoolSnapshots(m("xyk.pools"), p.chainName, p.source,
          p.blockNumber, p.blockHash, p.tsSec, p.ss58Prefix)
      },
      one("tokens.accounts/treasury",
        Seq("tokens.accounts.treasury", "registry.assets")) { (m, p) =>
        Assets.tokenAccountSnapshots(m("tokens.accounts.treasury"),
          m("registry.assets"), "treasury", p.chainName, p.source,
          p.blockNumber, p.blockHash, p.tsSec, p.ss58Prefix)
      },
      one("tokens.accounts/omnipool",
        Seq("tokens.accounts.omnipool", "registry.assets")) { (m, p) =>
        Assets.tokenAccountSnapshots(m("tokens.accounts.omnipool"),
          m("registry.assets"), "omnipool", p.chainName, p.source,
          p.blockNumber, p.blockHash, p.tsSec, p.ss58Prefix)
      },
      issuance("tokens.totalIssuance"),
      one("omnipool.assets", Seq("omnipool.assets",
        "registry.assets")) { (m, p) =>
        Assets.omnipoolAssetSnapshots(m("omnipool.assets"),
          m("registry.assets"), p.chainName, p.source, p.blockNumber,
          p.blockHash, p.tsSec)
      },
      one("omnipool.positions", Seq("omnipool.positions",
        "registry.assets")) { (m, p) =>
        Assets.omnipoolPositionSnapshots(m("omnipool.positions"),
          m("registry.assets"), p.chainName, p.source, p.blockNumber,
          p.blockHash, p.tsSec)
      },
      one("uniques.asset", Seq("uniques.asset")) { (m, p) =>
        Assets.uniquesAssetSnapshots(m("uniques.asset"), p.chainName,
          p.source, p.blockNumber, p.blockHash, p.tsSec, p.ss58Prefix)
      }),
    // bifrost.js
    "Bifrost" -> Seq(
      issuance("balances.totalIssuance"),
      issuance("tokens.totalIssuance"),
      one("vtokenMinting.tokenPool", Seq("vtokenMinting.tokenPool",
        "registry.tokens")) { (m, p) =>
        Assets.tokenPoolSnapshots(m("vtokenMinting.tokenPool"),
          m("registry.tokens"), p.chainName, p.source, p.blockNumber,
          p.blockHash, p.tsSec)
      }),
    // astar.js: issuance walks + the full dappStaking family
    "Astar" -> (Seq(issuance("tokens.totalIssuance"),
      issuance("balances.totalIssuance")) ++ dappStaking),
    // shibuya.js: the dappStaking subset (its three frames; the rest
    // of the family skips on absent inputs)
    "Shibuya" -> dappStaking,
    // moonbeam.js / interlay.js: one issuance walk each
    "Moonbeam" -> Seq(issuance("tokens.totalIssuance")),
    "Interlay" -> Seq(issuance("tokens.totalIssuance")))

  /** A chain's full rec union for one placement — the reference's
    * per-chain handleSnapshot. Extractors whose inputs are absent
    * skip; an unknown chain is an error (the reference has no generic
    * walk either: substrateetl.js picks the subclass by chain). */
  def handleSnapshot(chainName: String, frames: Frames,
      p: Placement): Seq[DataFrame] = {
    val cat = catalogs.getOrElse(chainName,
      throw new IllegalArgumentException(
        s"no snapshot catalog for chain '$chainName' — known: " +
          catalogs.keys.toSeq.sorted.mkString(", ")))
    cat.filter(_.inputs.forall(frames.contains))
      .flatMap(_.build(frames, p))
  }

  /** One call = one chain placement landed: compose the catalog and
    * write through [[Snapshot.dumpSnapshots]]'s idempotent
    * (log_dt, chain_name, hr) partition overwrite. */
  def dumpChainSnapshot(chainName: String, frames: Frames,
      p: Placement, logDT: String, outRoot: String): DataFrame = {
    val recs = handleSnapshot(chainName, frames, p)
    require(recs.nonEmpty,
      s"chain '$chainName': no catalog extractor matched the " +
        s"supplied frames [${frames.keys.toSeq.sorted.mkString(", ")}]")
    Snapshot.dumpSnapshots(recs, logDT, outRoot)
  }
}
