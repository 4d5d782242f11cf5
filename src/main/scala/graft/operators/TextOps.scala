package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis operators for a large-scale training-data pipeline:
  * token statistics, quality scoring, heuristic language ID, document
  * fingerprinting. All run over the `documents` table.
  *
  * Scale notes: every query is a narrow projection + hash aggregation —
  * the text column is read once, per-row expressions are codegen'd
  * built-ins (split/filter/transform), no UDFs, no shuffle of raw text
  * except the (doc_id, token)-grain explode in DedupOps which is bounded
  * by blocking keys.
  */
object TextOps {

  private val stopPred =
    "t -> t = 'the' OR t = 'a' OR t = 'of' OR t = 'to' OR t = 'and'"

  /** Tokenize on runs of whitespace — same regex class in Spark and
    * DuckDB. The canonical corpus tokenizer: x1/x21, the LR features,
    * s9's curation chain, and the streaming twin
    * (graft.streaming.CorpusStream) all reference THIS definition. */
  private[graft] def toks = expr("split(trim(text), '\\\\s+')")

  /** Shared tokenized-corpus stage (round 19, guide §1.2/§2.4): the
    * whitespace tokenization of `documents` — (doc_id, source, lang,
    * ts = [[toks]]) — materialized ONCE per (session, sfDir) and
    * consumed by the x14/x15/x16/x17/x21/x22/x23 family, each of which
    * previously re-planned its own scan+split subtree. The production
    * shape this models: a pipeline tokenizes a corpus release once and
    * every downstream statistic reads the tokenized table, never raw
    * text. Memoized (and localCheckpointed) in a [[StageMemo]]: Bench
    * times the cold build as its own
    * `stage:tokdocs_corpus` line and resets the memo per run, so the
    * stage cost stays inside the bench total and every invocation
    * still computes from the parquet inputs. Consumers that filter
    * (x22/x23's doc_id < 2000) filter the checkpointed frame — the
    * lost scan pushdown is exactly the trade the shared
    * materialization makes, and it is the right one: the tokenize is
    * the dominant subtree, the filter a cheap post-scan predicate. */
  private[graft] val tokDocsStage = new StageMemo((s, d) =>
    spread(Tables.documents(s, d))
      .select(col("doc_id"), col("source"), col("lang"), toks.as("ts"))
      .localCheckpoint(), DedupOps.releaseCheckpoint)
  private[graft] def tokenizedDocs(s: SparkSession, d: String): DataFrame =
    tokDocsStage(s, d)
  /** Bench hooks: build the shared tokenized corpus / drop it so the
    * bench times the stage cold (Bench.main resets). */
  def warmTokenizedDocs(s: SparkSession, d: String): Unit = {
    tokDocsStage(s, d); ()
  }
  def resetTokenizedDocs(): Unit = tokDocsStage.reset()

  // X1 — per-language token statistics (length/token-count profile).
  private def x1(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .withColumn("n_tokens", size(toks))
      .withColumn("n_distinct", size(array_distinct(toks)))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        sum(col("n_tokens").cast("long")).as("sum_tokens"),
        sum(col("n_distinct").cast("long")).as("sum_distinct"),
        round(sum(col("n_tokens").cast("long")).cast("double") /
          count(lit(1)), 6).as("avg_tokens"))
      .orderBy(col("lang"))

  private val x1Sql =
    s"""SELECT lang, count(*) AS n_docs, ${sqlLsum("n_chars")} AS sum_chars,
       | ${sqlLsum("len(string_split_regex(trim(text), '\\s+'))")} AS sum_tokens,
       | ${sqlLsum("len(list_distinct(string_split_regex(trim(text), '\\s+')))")} AS sum_distinct,
       | round(CAST(sum(len(string_split_regex(trim(text), '\\s+'))) AS DOUBLE)
       |   / count(*), 6) AS avg_tokens
       |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  /** The shared (n_tokens, n_stop, n_distinct) double-typed token-stats
    * projection — x2's quality heuristics AND the x19/x20 classifier
    * features derive from this ONE expression tree (with
    * [[sqlTokenStatsCols]] as its oracle twin), so a tokenization
    * retune cannot land in one consumer and silently diverge the
    * other from its oracle. */
  private[graft] def withTokenStats(df: DataFrame): DataFrame =
    df.withColumn("n_tokens", size(toks).cast("double"))
      .withColumn("n_stop",
        size(expr(s"filter(split(trim(text), '\\\\s+'), $stopPred)"))
          .cast("double"))
      .withColumn("n_distinct", size(array_distinct(toks)).cast("double"))

  /** Oracle twin of [[withTokenStats]]'s three derived columns. */
  private[operators] val sqlTokenStatsCols =
    s"""CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE)
       |    AS n_tokens,
       |   CAST(len(list_filter(string_split_regex(trim(text), '\\s+'),
       |     $stopPred)) AS DOUBLE) AS n_stop,
       |   CAST(len(list_distinct(string_split_regex(trim(text),
       |     '\\s+'))) AS DOUBLE) AS n_distinct""".stripMargin

  /** The x2 quality heuristic over [[withTokenStats]]'s columns —
    * shared with s9's curation chain (with [[sqlQualityExpr]] as its
    * oracle twin) so a weight retune can never land in one consumer
    * and silently diverge the other. */
  private[graft] def qualityCol: Column = round(
    lit(0.4) * least(col("n_tokens") / 100.0, lit(1.0)) +
      lit(0.3) * (lit(1.0) - col("n_stop") / col("n_tokens")) +
      lit(0.3) * (col("n_distinct") / col("n_tokens")), 6)

  /** Oracle twin of [[qualityCol]]. */
  private[graft] val sqlQualityExpr: String =
    """round(0.4 * least(n_tokens / 100.0, 1.0)
      |   + 0.3 * (1.0 - n_stop / n_tokens)
      |   + 0.3 * (n_distinct / n_tokens), 6)""".stripMargin

  // X2 — per-document quality score: length, stopword ratio, vocabulary
  // diversity (the classic pre-training quality heuristics).
  private def x2(s: SparkSession, d: String): DataFrame =
    withTokenStats(Tables.documents(s, d).filter(col("doc_id") < 200))
      .select(col("doc_id"), col("lang"),
        col("n_tokens").cast("long").as("n_tokens"),
        round(col("n_stop") / col("n_tokens"), 6).as("stop_ratio"),
        round(col("n_distinct") / col("n_tokens"), 6).as("distinct_ratio"),
        qualityCol.as("quality"))
      .orderBy(col("doc_id"))

  private val x2Sql =
    s"""SELECT doc_id, lang, CAST(n_tokens AS BIGINT) AS n_tokens,
       | round(n_stop / n_tokens, 6) AS stop_ratio,
       | round(n_distinct / n_tokens, 6) AS distinct_ratio,
       | $sqlQualityExpr AS quality
       |FROM (SELECT doc_id, lang,
       |  $sqlTokenStatsCols
       | FROM documents WHERE doc_id < 200)
       |ORDER BY doc_id""".stripMargin

  // X3 — heuristic n-gram/marker language ID vs the labeled column
  // (agreement per label).
  private def x3(s: SparkSession, d: String): DataFrame = {
    val pred = when(col("text").contains(" el "), "es")
      .when(col("text").contains(" der "), "de")
      .when(col("text").contains(" le "), "fr")
      .when(col("text").contains(" zh "), "zh")
      .otherwise("en")
    Tables.documents(s, d)
      .withColumn("pred_lang", pred)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("pred_lang") === col("lang"), 1L).otherwise(0L))
          .as("n_match"),
        countDistinct(col("pred_lang")).as("n_pred_langs"))
      .orderBy(col("lang"))
  }

  private val x3Sql =
    s"""SELECT lang, count(*) AS n_docs,
       | ${sqlLsum("CASE WHEN pred_lang = lang THEN 1 ELSE 0 END")} AS n_match,
       | count(DISTINCT pred_lang) AS n_pred_langs
      |FROM (SELECT lang,
      |  CASE WHEN contains(text, ' el ') THEN 'es'
      |       WHEN contains(text, ' der ') THEN 'de'
      |       WHEN contains(text, ' le ') THEN 'fr'
      |       WHEN contains(text, ' zh ') THEN 'zh'
      |       ELSE 'en' END AS pred_lang
      | FROM documents)
      |GROUP BY lang ORDER BY lang""".stripMargin

  // X4 — document fingerprinting: md5 over whitespace-normalized text
  // (the exact-dedup key), uniqueness per source.
  private def x4(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .withColumn("fp",
        md5(regexp_replace(lower(trim(col("text"))), "\\s+", " ")))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("fp")).as("n_unique"),
        min(col("fp")).as("min_fp"))
      .orderBy(col("source"))

  private val x4Sql =
    """SELECT source, count(*) AS n_docs, count(DISTINCT fp) AS n_unique,
      | min(fp) AS min_fp
      |FROM (SELECT source,
      |  md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
      | FROM documents)
      |GROUP BY source ORDER BY source""".stripMargin

  // X5 — BPE-ish token counting: the subword-style segmentation a
  // tokenizer-budget estimate uses (letter runs / digit runs / single
  // punctuation marks — the pre-tokenization split GPT-style BPE
  // applies before merges). The whitespace class is spelled out
  // explicitly ([ \t\n\f\r]) because Java's \s includes vertical tab
  // while RE2's does not — the shorthand would silently diverge on \x0B.
  private def x5(s: SparkSession, d: String): DataFrame = {
    val toks = expr(
      "regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \\\\t\\\\n\\\\f\\\\r]', 0)")
    Tables.documents(s, d)
      .withColumn("n_bpe", size(toks))
      .withColumn("n_bpe_distinct", size(array_distinct(toks)))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_bpe").cast("long")).as("sum_bpe"),
        sum(col("n_bpe_distinct").cast("long")).as("sum_bpe_distinct"),
        round(sum(col("n_bpe").cast("long")).cast("double") /
          count(lit(1)), 6).as("avg_bpe"))
      .orderBy(col("lang"))
  }

  private val x5Sql = {
    val re = """[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\n\f\r]"""
    s"""SELECT lang, count(*) AS n_docs,
       | ${sqlLsum(s"len(regexp_extract_all(text, '$re'))")} AS sum_bpe,
       | ${sqlLsum(s"len(list_distinct(regexp_extract_all(text, '$re')))")} AS sum_bpe_distinct,
       | round(CAST(sum(len(regexp_extract_all(text, '$re'))) AS DOUBLE)
       |   / count(*), 6) AS avg_bpe
       |FROM documents GROUP BY lang ORDER BY lang""".stripMargin
  }

  // X6 — repetition metrics (the Gopher/MassiveText repetition filters):
  // duplicate-bigram fraction (how much of the doc is repeated local
  // phrasing) and top-word fraction (most frequent word / total words),
  // averaged per source, plus a count of docs over the repetition bar.
  // The per-doc fractions are single double divisions (engine-identical);
  // the per-source averages go through exact DECIMAL(38,12) sums.
  private def x6(s: SparkSession, d: String): DataFrame = {
    val t = Tables.documents(s, d)
      .withColumn("w", toks)
      .filter(size(col("w")) >= 2)
    // the per-doc scalars (nw/nb/db) RIDE the top-word aggregation as
    // functionally-dependent keys (round 18): the old shape derived
    // them on a second scan of documents and joined the two frames
    // back on doc_id — one scan + one join for columns the explode
    // already carries. Map-side partial aggregation still collapses
    // token instances to per-doc-distinct tokens before the shuffle,
    // so the wider key adds bytes only on the combined rows.
    val docCols = Seq(col("doc_id"), col("source"),
      col("nw"), col("nb"), col("db"))
    t
      .withColumn("nw", size(col("w")).cast("double"))
      .withColumn("nb", (size(col("w")) - 1).cast("double"))
      .withColumn("db", size(array_distinct(expr(
        "transform(sequence(0, size(w) - 2), i -> concat_ws(' ', w[i], w[i+1]))")))
        .cast("double"))
      .select(docCols :+ explode(col("w")).as("tok"): _*)
      .groupBy(docCols :+ col("tok"): _*)
      .agg(count(lit(1)).as("c"))
      .groupBy(docCols: _*)
      .agg(max(col("c")).cast("double").as("topc"))
      .withColumn("dup_bi", (col("nb") - col("db")) / col("nb"))
      .withColumn("top_frac", col("topc") / col("nw"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        round(sum(dec12(col("dup_bi"))).cast("double") / count(lit(1)), 6)
          .as("avg_dup_bigram"),
        round(sum(dec12(col("top_frac"))).cast("double") / count(lit(1)), 6)
          .as("avg_top_word"),
        sum(when(col("dup_bi") > 0.05, 1L).otherwise(0L))
          .as("n_repetitive"))
      .orderBy(col("source"))
  }

  private val x6Sql =
    s"""WITH t AS (SELECT doc_id, source,
       |  string_split_regex(trim(text), '\\s+') AS w FROM documents),
       |b AS (SELECT doc_id, source,
       |  CAST(len(w) AS DOUBLE) AS nw,
       |  CAST(len(w) - 1 AS DOUBLE) AS nb,
       |  CAST(len(list_distinct(list_transform(range(1, len(w)),
       |    i -> w[i] || ' ' || w[i+1]))) AS DOUBLE) AS db
       | FROM t WHERE len(w) >= 2),
       |topw AS (SELECT doc_id, CAST(max(c) AS DOUBLE) AS topc FROM (
       |  SELECT doc_id, tok, count(*) AS c
       |  FROM (SELECT doc_id, unnest(w) AS tok FROM t) GROUP BY 1, 2)
       | GROUP BY 1)
       |SELECT source, count(*) AS n_docs,
       | round(CAST(sum(CAST((nb - db) / nb AS DECIMAL(38,12))) AS DOUBLE)
       |   / count(*), 6) AS avg_dup_bigram,
       | round(CAST(sum(CAST(topc / nw AS DECIMAL(38,12))) AS DOUBLE)
       |   / count(*), 6) AS avg_top_word,
       | ${sqlLsum("CASE WHEN (nb - db) / nb > 0.05 THEN 1 ELSE 0 END")} AS n_repetitive
       |FROM b JOIN topw USING (doc_id)
       |GROUP BY source ORDER BY source""".stripMargin

  // X7 — exact length quantiles per source (median + p90), computed by
  // RANK SELECTION rather than an engine quantile function: Spark's
  // percentile / DuckDB's quantile_cont interpolate differently, but
  // "the value at row_number k of n" is pure integer arithmetic, so the
  // result is engine-identical and oracle-checkable. One window + one
  // aggregate per source; at 100 TB the same shape holds per partition
  // key (or swap in a t-digest sketch when a global single-key quantile
  // is needed — then it's rows-only like a16b).
  private def x7(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val t = Tables.documents(s, d)
      .select(col("source"), col("n_chars"), col("doc_id"))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("n_chars"), col("doc_id"))
    t.withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("source"))))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"),
        ((sum(when(col("rn") === expr("(n + 1) div 2"), col("n_chars"))
          .otherwise(0L)) +
          sum(when(col("rn") === expr("(n + 2) div 2"), col("n_chars"))
            .otherwise(0L))) / 2.0).as("median_chars"),
        sum(when(col("rn") === expr("(9 * n + 9) div 10"), col("n_chars"))
          .otherwise(0L)).as("p90_chars"))
      .orderBy(col("source"))
  }

  private val x7Sql =
    """WITH r AS (SELECT source, n_chars,
      |  row_number() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS rn,
      |  count(*) OVER (PARTITION BY source) AS n
      | FROM documents)
      |SELECT source, count(*) AS n_docs,
      | min(n_chars) AS min_chars, max(n_chars) AS max_chars,
      | (sum(CASE WHEN rn = (n + 1) // 2 THEN n_chars ELSE 0 END)
      |  + sum(CASE WHEN rn = (n + 2) // 2 THEN n_chars ELSE 0 END)) / 2.0
      |   AS median_chars,
      | CAST(sum(CASE WHEN rn = (9 * n + 9) // 10 THEN n_chars ELSE 0 END)
      |   AS BIGINT) AS p90_chars
      |FROM r GROUP BY source ORDER BY source""".stripMargin

  // X8 — sketch quantiles (the 100 TB path for x7): approx_percentile
  // is a mergeable sketch — map-side partials, no per-source sort, and
  // at fleet scale no requirement that any one key's rows fit a single
  // window. Engine sketch internals differ, so this is rows-only for
  // the driver; TextPropertySpec pins the sketch against x7's exact
  // rank-selection answers instead (|approx − exact| within the
  // sketch's accuracy bound).
  private def x8(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        expr("approx_percentile(n_chars, 0.5, 1000)").as("median_chars"),
        expr("approx_percentile(n_chars, 0.9, 1000)").as("p90_chars"))
      .orderBy(col("source"))

  // X9 — BPE vocabulary induction, first merge round: global
  // within-word character-pair frequencies (the statistic BPE training
  // recomputes every merge; one round is the relational core — explode
  // words, explode adjacent offsets, count). Top pairs with a
  // deterministic (freq desc, pair) order → TakeOrderedAndProject.
  // substring is 1-based in BOTH engines, so the offsets line up.
  private def x9(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(explode(toks).as("word"))
      .filter(length(col("word")) >= 2)
      .select(col("word"),
        explode(expr("sequence(1, length(word) - 1)")).as("i"))
      .select(expr("substring(word, i, 2)").as("pair"))
      .groupBy(col("pair"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("pair"))
      .limit(20)

  private val x9Sql =
    """SELECT pair, count(*) AS n FROM (
      | SELECT substr(word, i, 2) AS pair FROM (
      |  SELECT word, unnest(range(1, len(word))) AS i FROM (
      |   SELECT unnest(string_split_regex(trim(text), '\s+')) AS word
      |   FROM documents)
      |  WHERE len(word) >= 2))
      |GROUP BY pair ORDER BY n DESC, pair LIMIT 20""".stripMargin

  // X10 — scrub-audit statistics: per-source counts of scrub-target
  // patterns (email-like tokens, URL-like tokens, blocklisted terms) —
  // the audit a pre-training scrub pass reports before redaction.
  // Patterns stay inside the regex subset Java and RE2/DuckDB agree on
  // (character classes, `+`, alternation, literal dot — no lookaround,
  // no `\w`-class dialect drift), the same parity discipline x5's
  // pre-tokenizer established. The synthetic corpus contains no
  // emails/URLs, so those paths are additionally pinned on planted
  // strings by TextPropertySpec; the blocklist term exercises the
  // machinery with real rows under the hash gate. Pure per-row
  // regexp_extract_all + one hash aggregate.
  private[operators] val EmailPat = "[a-z0-9]+@[a-z0-9]+[.][a-z]+"
  private[operators] val UrlPat = "https?://[a-z0-9./_-]+"
  private[operators] val BlockPat = "customer|supplier"

  private def x10(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("source"),
        size(expr(s"regexp_extract_all(lower(text), '$EmailPat', 0)"))
          .cast("long").as("n_emails"),
        size(expr(s"regexp_extract_all(lower(text), '$UrlPat', 0)"))
          .cast("long").as("n_urls"),
        size(expr(s"regexp_extract_all(lower(text), '$BlockPat', 0)"))
          .cast("long").as("n_blocked"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_emails")).as("total_emails"),
        sum((col("n_emails") > 0).cast("long")).as("docs_with_email"),
        sum(col("n_urls")).as("total_urls"),
        sum(col("n_blocked")).as("total_blocked"),
        sum((col("n_blocked") > 0).cast("long")).as("docs_with_blocked"))
      .orderBy(col("source"))

  private val x10Sql =
    s"""SELECT source, count(*) AS n_docs,
       | ${sqlLsum("n_emails")} AS total_emails,
       | ${sqlLsum("CASE WHEN n_emails > 0 THEN 1 ELSE 0 END")} AS docs_with_email,
       | ${sqlLsum("n_urls")} AS total_urls,
       | ${sqlLsum("n_blocked")} AS total_blocked,
       | ${sqlLsum("CASE WHEN n_blocked > 0 THEN 1 ELSE 0 END")} AS docs_with_blocked
       |FROM (SELECT source,
       |  len(regexp_extract_all(lower(text), '$EmailPat')) AS n_emails,
       |  len(regexp_extract_all(lower(text), '$UrlPat')) AS n_urls,
       |  len(regexp_extract_all(lower(text), '$BlockPat')) AS n_blocked
       | FROM documents)
       |GROUP BY source ORDER BY source""".stripMargin

  // X11 — the operative scrub: redact email/URL/blocklist tokens to
  // placeholder tags (what the pipeline actually ships after x10's
  // audit). The redacted TEXT itself is hash-verified cross-engine —
  // DuckDB's regexp_replace needs the 'g' flag to match Spark's
  // replace-all semantics. Bounded to doc_id < 300 so the gate hashes
  // whole redacted documents without dominating verify time.
  /** Replace-all scrub shared by the query and the serve/spec paths. */
  def scrub(textCol: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(lower(textCol), EmailPat, "<EMAIL>"),
        UrlPat, "<URL>"),
      BlockPat, "<ENTITY>")

  private def x11(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .filter(col("doc_id") < 300)
      .withColumn("redacted", scrub(col("text")))
      .filter(col("redacted") =!= lower(col("text")))
      .select(col("doc_id"), col("source"), col("redacted"))
      .orderBy(col("doc_id"))

  private val x11Sql = {
    val redact = s"""regexp_replace(regexp_replace(regexp_replace(
       |   lower(text), '$EmailPat', '<EMAIL>', 'g'),
       |   '$UrlPat', '<URL>', 'g'), '$BlockPat', '<ENTITY>', 'g')"""
    s"""SELECT doc_id, source, $redact AS redacted
       |FROM documents
       |WHERE doc_id < 300 AND $redact <> lower(text)
       |ORDER BY doc_id""".stripMargin
  }

  // X12 — BPE vocabulary induction: the merge LOOP that x5 (pre-
  // tokenization) and x9 (pair statistics) lead up to — learn the top-K
  // merge rules over the corpus, the algorithm a tokenizer trainer runs
  // (Sennrich et al. 2016; the GPT-2 trainer is the same loop).
  //
  // Distributed shape: the corpus is read ONCE into a (word, freq)
  // vocab table (pre-tokenize → explode → one groupBy); every round of
  // the loop then runs on that vocab table only — orders of magnitude
  // smaller than the corpus (the 100-TB corpus has a ~100M-row word
  // vocab), and shrinking further each round as fully-merged words
  // leave the active set. Per round: one pair-count aggregation
  // (shuffle keyed on the symbol pair) and ONE driver-side row — the
  // argmax pair, a bounded scalar in the same legitimacy class as the
  // CC loop's convergence counter. The merge application is a per-row
  // left fold (functions.aggregate) over each word's symbol array —
  // greedy left-to-right BPE exactly (the folded token l+r is strictly
  // longer than l, so a just-created token can never re-match as `l`
  // within the same pass). Lineage is flattened with an eager
  // localCheckpoint per round (the CC pattern), so plan depth stays
  // constant across K rounds.
  def bpeMerges(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    trainedMerges(s, d).toDF("rank", "left", "right", "freq")
      .withColumn("merged", concat(col("left"), col("right")))
      .select(col("rank"), col("left"), col("right"), col("merged"),
        col("freq"))
      .orderBy(col("rank"))
  }

  /** Merge rounds of the one trained vocab every consumer reads. */
  private val BpeK = 16

  /** The trained merge list, memoized per (session, sfDir): x12
    * (report the vocab) and x13 (encode the corpus) are two consumers
    * of ONE training stage — a real pipeline trains once and both
    * inspects and applies the result. The memo holds the K-row
    * driver-side list, not a DataFrame; the loop releases its own
    * checkpoint blocks. Bench resets + times the stage as its own line
    * (`stage:bpe_merges`), the d5/d6 CC-labels accounting pattern. */
  private[graft] val mergesStage = new StageMemo(runMergeLoop(_, _, BpeK))

  /** Bench/test hook: forget the trained merges so the next consumer
    * pays the full training cost. */
  def resetBpeMerges(): Unit = mergesStage.reset()

  /** Bench hook: train + memoize the shared merge stage for (s, d). */
  def warmBpeMerges(s: SparkSession, d: String): Unit = {
    trainedMerges(s, d); ()
  }

  /** Bench hook: the forced-DISTRIBUTED twin of [[warmBpeMerges]] —
    * `vocabCap = 0` routes the same k merge rounds through the
    * distributed pair-agg/fold loop that real above-cap vocabs take, so
    * a regression there stays trend-guard-visible even though size
    * dispatch sends test SFs driver-side. Not memoized. */
  def warmBpeMergesDistributed(s: SparkSession, d: String): Unit = {
    runMergeLoop(s, d, BpeK, vocabCap = 0L); ()
  }

  def trainedMerges(s: SparkSession,
      d: String): Seq[(Int, String, String, Long)] = mergesStage(s, d)

  /** Vocab row cap under which the merge rounds run driver-side: word
    * types with their symbol arrays, ~tens of MB at the cap. */
  private val VocabCap = 100_000L

  /** Spark StringType orders by UTF-8 bytes; Scala String compareTo
    * orders by UTF-16 code units — they disagree above U+FFFF vs
    * [U+E000, U+FFFF], so the driver-side argmax compares UTF-8 bytes
    * to stay bit-identical with the distributed `orderBy`. */
  private def u8lt(a: String, b: String): Boolean = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    while (i < x.length && i < y.length) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c < 0
      i += 1
    }
    x.length < y.length
  }

  /** One non-overlapping left-to-right merge pass — the driver twin of
    * the distributed `aggregate` fold (and of [[encodeWord]]'s inner
    * pass). */
  private def mergePass(ss: Array[String], l: String,
      r: String): Array[String] = {
    val out = new scala.collection.mutable.ArrayBuffer[String](ss.length)
    ss.foreach { x =>
      if (out.nonEmpty && out.last == l && x == r)
        out(out.length - 1) = l + r
      else out += x
    }
    out.toArray
  }

  /** Driver-side merge rounds over a collected vocab — same argmax
    * contract (count DESC, then UTF-8-byte lexicographic (l, r)) and
    * same fold as the distributed loop, so crossing the dispatch
    * threshold can never change results (TextPropertySpec pins both
    * against the sequential reference). */
  private def driverMergeLoop(words0: Array[(Array[String], Long)],
      k: Int): Seq[(Int, String, String, Long)] = {
    var words = words0
    val merges = scala.collection.mutable.ArrayBuffer[(Int, String, String, Long)]()
    var r = 1
    var exhausted = false
    while (r <= k && !exhausted) {
      val counts = scala.collection.mutable.HashMap[(String, String), Long]()
      words.foreach { case (ss, f) =>
        var i = 0
        while (i < ss.length - 1) {
          val key = (ss(i), ss(i + 1))
          counts.update(key, counts.getOrElse(key, 0L) + f)
          i += 1
        }
      }
      if (counts.isEmpty) exhausted = true
      else {
        var best: ((String, String), Long) = null
        counts.foreach { case (p, c) =>
          if (best == null || c > best._2 ||
            (c == best._2 && (u8lt(p._1, best._1._1) ||
              (p._1 == best._1._1 && u8lt(p._2, best._1._2)))))
            best = (p, c)
        }
        val ((l, rr), c) = best
        merges += ((r, l, rr, c))
        words = words.map { case (ss, f) => (mergePass(ss, l, rr), f) }
          .filter(_._1.length > 1)
        r += 1
      }
    }
    merges.toSeq
  }

  private[graft] def runMergeLoop(s: SparkSession, d: String,
      k: Int, vocabCap: Long = VocabCap): Seq[(Int, String, String, Long)] = {
    val pretok = expr(
      "regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \\\\t\\\\n\\\\f\\\\r]', 0)")
    var vocab = spread(Tables.documents(s, d))
      .select(explode(pretok).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .select(split(col("word"), "").as("syms"), col("freq"))
      .filter(size(col("syms")) > 1)
      .localCheckpoint(true)
    // Size dispatch (the connectedComponents driver-union-find /
    // IVF-codebook pattern): a vocab under VocabCap word types runs
    // the k merge rounds driver-side in microseconds instead of paying
    // k rounds of distributed fixed job overhead (pair agg + sort +
    // checkpoint, ~0.2-0.3 s each locally). The count is free — it
    // reads the checkpoint that round 1 would read anyway. Above the
    // cap (real-corpus vocabs), the distributed loop below carries the
    // same contract at any size.
    if (vocab.count() <= vocabCap) {
      import s.implicits._
      val collected = vocab.as[(Seq[String], Long)].collect()
        .map { case (ss, f) => (ss.toArray, f) }
      DedupOps.releaseCheckpoint(vocab)
      return driverMergeLoop(collected, k)
    }
    val merges = scala.collection.mutable.ArrayBuffer[(Int, String, String, Long)]()
    var r = 1
    var exhausted = false
    while (r <= k && !exhausted) {
      val top = vocab
        .select(explode(expr(
          "transform(sequence(0, size(syms) - 2), i -> struct(syms[i] AS l, syms[i+1] AS r))"))
          .as("p"), col("freq"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("freq")).as("c"))
        // deterministic argmax: count desc, then lexicographic pair
        .orderBy(col("c").desc, col("l"), col("r"))
        .limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val l = top(0).getString(0)
        val rr = top(0).getString(1)
        merges += ((r, l, rr, top(0).getLong(2)))
        val next = vocab.select(
          aggregate(col("syms"), array().cast("array<string>"),
            (acc, x) =>
              // && short-circuits, so element_at never sees an empty
              // array (ANSI mode would throw on it)
              when(size(acc) > 0 &&
                  element_at(acc, -1) === lit(l) && x === lit(rr),
                concat(slice(acc, lit(1), size(acc) - 1),
                  array(lit(l + rr))))
                .otherwise(concat(acc, array(x)))).as("syms"),
          col("freq"))
          .filter(size(col("syms")) > 1)
          .localCheckpoint(true)
        // checkpoint blocks live outside the CacheManager — release via
        // the plan's LogicalRDD (Dataset.unpersist would be a no-op)
        DedupOps.releaseCheckpoint(vocab)
        vocab = next
        r += 1
      }
    }
    DedupOps.releaseCheckpoint(vocab)
    merges.toSeq
  }

  private def x12(s: SparkSession, d: String): DataFrame =
    bpeMerges(s, d)

  /** Greedy BPE encode of one word: replay the trained merges in rank
    * order, each as one non-overlapping left-to-right pass — the same
    * fold the trainer applies, so encode(corpus) reproduces the
    * trainer's final segmentation exactly. Pure JVM function used
    * inside the x13 mapPartitions (genuine per-row imperative logic —
    * the p4 typed-flatMap tier, not a SQL-expression UDF). */
  private[graft] def encodeWord(word: String,
      merges: Seq[(String, String)]): Array[String] = {
    var syms: Array[String] = word.split("").filter(_.nonEmpty)
    merges.foreach { case (l, r) =>
      // tokens are contiguous substrings of the word, so a merge can
      // only apply if the word contains l+r — skip the pass otherwise
      if (syms.length > 1 && word.contains(l + r))
        syms = mergePass(syms, l, r)
    }
    syms
  }

  // X13 — corpus tokenization with the trained vocab: the APPLY side of
  // x12, and the operation a 100-TB pipeline actually spends its time
  // on (tokenize everything once per vocab release). The K-row merge
  // list is collected once (bounded driver value, memoized with x12)
  // and broadcast; each partition encodes its documents with a local
  // word→token-count cache (word frequencies are Zipfian, so the cache
  // hit rate is high; capped so a pathological partition can't OOM).
  // No shuffle touches the text — only the per-(lang) rollup shuffles,
  // carrying three longs per doc.
  private def x13(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val merges = trainedMerges(s, d).map(m => (m._2, m._3))
    val bc = s.sparkContext.broadcast(merges)
    spread(Tables.documents(s, d))
      .select(col("lang"), col("text")).as[(String, String)]
      .mapPartitions { it =>
        val pat = java.util.regex.Pattern.compile(
          "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \\t\\n\\f\\r]")
        val ms = bc.value
        val cache = new java.util.HashMap[String, Integer]()
        it.map { case (lang, text) =>
          val m = pat.matcher(text)
          var words = 0L
          var toks = 0L
          while (m.find()) {
            val w = m.group()
            words += 1
            var n = cache.get(w)
            if (n == null) {
              n = Integer.valueOf(encodeWord(w, ms).length)
              if (cache.size < (1 << 20)) cache.put(w, n)
            }
            toks += n.intValue()
          }
          (lang, words, toks)
        }
      }
      .toDF("lang", "n_words", "n_tokens")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_words")).as("sum_words"),
        sum(col("n_tokens")).as("sum_tokens"),
        round(sum(col("n_tokens")).cast("double") /
          sum(col("n_words")), 6).as("tok_per_word"))
      .orderBy(col("lang"))
  }

  // X14 — per-source distinctive terms by tf-idf: tf = token count in
  // the source, idf = ln(n_sources / n_sources_containing), top-5 per
  // source. The corpus-profiling face ("what makes this source
  // different"), and a shape that stays two hash aggregations + one
  // bounded window at any scale: (source, token) counts, token →
  // source-df join (broadcastable — df table is vocab-sized), then a
  // per-source top-k. n_sources folds in lazily as a broadcast 1-row
  // cross join (no eager scan at plan-build time), and the window
  // ranks on the ROUNDED score (repo convention, see v1) so ranking
  // is robust to last-bit ln() drift between engines; ties break on
  // the token string.
  private def x14(s: SparkSession, d: String): DataFrame = {
    // both subtrees read the shared tokenized corpus (round 19) — the
    // scan+split ran twice here before (once for ns, once for tf)
    val ns = tokenizedDocs(s, d)
      .agg(countDistinct(col("source")).cast("double").as("n"))
    val tf = tokenizedDocs(s, d)
      .select(col("source"), explode(col("ts")).as("tok"))
      .groupBy(col("source"), col("tok"))
      .agg(count(lit(1)).as("tf"))
    // df via a window over tf instead of a groupBy+self-join (round
    // 18): tf is UNIQUE per (source, tok), so count(*) over the tok
    // partition IS countDistinct(source) — one exchange on tok
    // replaces the df aggregation's exchange PLUS the join-side
    // re-exchange, and the tokenize+tf subtree runs once, not twice
    val df = count(lit(1)).over(
      org.apache.spark.sql.expressions.Window.partitionBy(col("tok")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"))
      .orderBy(col("tfidf").desc, col("tok"))
    tf.withColumn("df", df)
      .crossJoin(broadcast(ns))
      .withColumn("tfidf",
        round(col("tf").cast("double") * log(col("n") / col("df")), 6))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5)
      .select(col("source"), col("rk"), col("tok"),
        col("tf"), col("df"), col("tfidf"))
      .orderBy(col("source"), col("rk"))
  }

  // X15 — BM25 retrieval scoring (k1 = 1.2, b = 0.75, the standard
  // Robertson/Sparck-Jones constants with the +1 idf floor): score
  // every document against a deterministic query set (the 8 highest-df
  // tokens — derivable identically in both engines, no fixture terms)
  // and keep the global top-20. The retrieval face of a training-data
  // pipeline (query-relevance subsetting); shape at scale: the doc
  // length RIDES the (doc_id, tok) aggregation key (functionally
  // dependent on doc_id — no separate doclen aggregation or join),
  // corpus stats are a tf-derived 1-row broadcast, query terms a
  // vocab-sized broadcast, and the top-k is one window. The tokenize+tf
  // subtree materializes once (localCheckpoint) and feeds the scoring
  // join, the query-term derivation AND the corpus stats — the x12
  // shared-stage pattern. Per-term scores go through
  // DECIMAL(38,6) before summing so the per-doc total is
  // partition-order-independent, and the top-20 ranks on the ROUNDED
  // total (repo convention) with doc_id tie-break.
  private def x15(s: SparkSession, d: String): DataFrame = {
    // len is projected BEFORE the explode — selecting size(toks) and
    // explode(toks) in one projection would re-evaluate the split per
    // EXPLODED row (~tokens-per-doc times), measured 5x slower
    // tf materializes ONCE (round 18 — the materialize-once shape this
    // scaladoc prescribed): the scoring join, the query-term derivation
    // and the corpus stats all read the checkpointed frame, so the
    // scan + tokenize runs once instead of three times (the scoring
    // side's pushed join-key null filter made its tf subtree differ
    // from the derivation side's, defeating exchange reuse).
    val tf = tokenizedDocs(s, d)
      .select(col("doc_id"), size(col("ts")).as("len"), col("ts"))
      .select(col("doc_id"), col("len"), explode(col("ts")).as("tok"))
      .groupBy(col("doc_id"), col("len"), col("tok"))
      .agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    // corpus stats from tf, not a second documents pass: every doc has
    // >= 1 token (split of an empty string is [""]), so the distinct
    // doc grain of tf IS the documents grain, len is functionally
    // dependent on doc_id, and avg() over longs evaluates as
    // sum.cast(double) / count — bit-identical to the old expression
    val stats = tf.groupBy(col("doc_id")).agg(max(col("len")).as("len"))
      .agg(count(lit(1)).cast("double").as("n_docs"),
        avg(col("len")).as("avg_len"))
    val dfreq = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val qterms = dfreq.orderBy(col("df").desc, col("tok")).limit(8)
    val byDoc = tf
      .join(broadcast(qterms), "tok")
      .crossJoin(broadcast(stats))
      .withColumn("idf", log(
        (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))
          + lit(1.0)))
      .withColumn("sc", col("idf") * col("tf") * lit(2.2) /
        (col("tf") + lit(1.2) * (lit(1.0) - lit(0.75)
          + lit(0.75) * col("len") / col("avg_len"))))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_terms"), dsumOut(col("sc")).as("bm25"))
    // top-20 via orderBy+limit (plans as a parallel
    // TakeOrderedAndProject), NOT an unpartitioned row_number window
    // that would funnel every doc through one task; the rank window
    // then runs over the already-bounded 20 rows
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("bm25").desc, col("doc_id"))
    byDoc.orderBy(col("bm25").desc, col("doc_id")).limit(20)
      .withColumn("rk", row_number().over(w))
      .select(col("rk"), col("doc_id"), col("n_terms"), col("bm25"))
      .orderBy(col("rk"))
  }

  private val x15Sql =
    s"""WITH tf AS (
       | SELECT doc_id, len, tok, CAST(count(*) AS BIGINT) AS tf
       | FROM (SELECT doc_id,
       |        CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
       |          AS len,
       |        unnest(string_split_regex(trim(text), '\\s+')) AS tok
       |       FROM documents)
       | GROUP BY doc_id, len, tok),
       |stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs,
       |  CAST(sum(len(string_split_regex(trim(text), '\\s+'))) AS DOUBLE)
       |    / count(*) AS avg_len FROM documents),
       |df AS (SELECT tok, CAST(count(*) AS BIGINT) AS df
       |       FROM tf GROUP BY tok),
       |q AS (SELECT tok, df FROM df ORDER BY df DESC, tok LIMIT 8),
       |sc AS (
       | SELECT tf.doc_id,
       |  ln((s.n_docs - q.df + 0.5) / (q.df + 0.5) + 1.0)
       |   * tf.tf * 2.2 / (tf.tf + 1.2 * (1.0 - 0.75
       |     + 0.75 * tf.len / s.avg_len)) AS sc
       | FROM tf JOIN q USING (tok)
       | CROSS JOIN stats s),
       |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms,
       |  ${sqlDsumOut("sc")} AS bm25
       | FROM sc GROUP BY doc_id)
       |SELECT rk, doc_id, n_terms, bm25 FROM (
       | SELECT *, row_number() OVER (
       |  ORDER BY bm25 DESC, doc_id) AS rk FROM agg)
       |WHERE rk <= 20 ORDER BY rk""".stripMargin

  private val x14Sql =
    """WITH tf AS (
      | SELECT source, tok, CAST(count(*) AS BIGINT) AS tf
      | FROM (SELECT source,
      |        unnest(string_split_regex(trim(text), '\s+')) AS tok
      |       FROM documents)
      | GROUP BY source, tok),
      |df AS (SELECT tok, CAST(count(DISTINCT source) AS BIGINT) AS df
      |       FROM tf GROUP BY tok),
      |ns AS (SELECT CAST(count(DISTINCT source) AS DOUBLE) AS n
      |       FROM documents),
      |scored AS (
      | SELECT tf.source, tf.tok, tf.tf, df.df,
      |  round(CAST(tf.tf AS DOUBLE) * ln(ns.n / df.df), 6) AS tfidf
      | FROM tf JOIN df USING (tok) CROSS JOIN ns)
      |SELECT source, rk, tok, tf, df, tfidf FROM (
      | SELECT *, row_number() OVER (
      |  PARTITION BY source ORDER BY tfidf DESC, tok) AS rk
      | FROM scored)
      |WHERE rk <= 5 ORDER BY source, rk""".stripMargin

  // X16 — n-gram LM perplexity scoring (the CCNet-style quality
  // filter: score every document under a language model trained on the
  // corpus, filter on the score). The model here is an add-one-smoothed
  // BIGRAM model whose parameters ARE DataFrames — context counts
  // c1(w1), bigram counts c2(w1,w2), vocabulary size V — and scoring is
  // relational: doc bigrams ⋈ c2 ⋈ c1, p(w2|w1) = (c2+1)/(c1+V),
  // per-doc mean negative log-prob. Scale shape: bigram extraction is a
  // per-row ARRAY transform (no token-explode shuffle before the count
  // aggs); c1/c2 ride ONE w1-partitioned window pass over the bigram
  // instances (round 18 — see the inline note: the old aggregate-and-
  // join-back shape shuffled the instance stream twice and planned the
  // tokenize subtree three times; an offline registry run would still
  // materialize the aggregated tables once, the KenLM analogue); V is
  // a 1-row broadcast. nll values go through
  // DECIMAL(38,6) before the per-doc sum (order-independent), mean
  // rounded at 6 (repo convention, same as tfidf/bm25's ln discipline).
  private def x16(s: SparkSession, d: String): DataFrame = {
    val bi = tokenizedDocs(s, d)
      .select(col("doc_id"), col("ts"))
      .select(col("doc_id"), explode(expr(
        "filter(transform(ts, (t, i) -> " +
          "struct(t AS w1, try_element_at(ts, i + 2) AS w2)), " +
          "p -> p.w2 IS NOT NULL)")).as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
    val v = tokenizedDocs(s, d)
      .select(explode(col("ts")).as("tok"))
      .agg(countDistinct(col("tok")).cast("double").as("v"))
    // c1/c2 as windows over ONE w1-partitioned pass (round 18): the
    // old shape aggregated c2(w1,w2) and c1(w1) as separate tables and
    // joined both back — the tokenize+bigram subtree planned THREE
    // times and the instance stream shuffled twice (once on (w1,w2),
    // once on w1). Partitioning by w1 clusters every (w1,w2) group too
    // (hash(w1) satisfies the pair window's clustering), so both
    // counts ride one exchange + one in-partition sort; the w1-hot-key
    // skew profile is UNCHANGED — the old plan's c1 join shuffled every
    // bigram instance by w1 already. Counts over the identical
    // multiset — bit-equal nll.
    val wCtx = org.apache.spark.sql.expressions.Window
      .partitionBy(col("w1"))
    val wPair = org.apache.spark.sql.expressions.Window
      .partitionBy(col("w1"), col("w2"))
    bi.withColumn("c1", count(lit(1)).over(wCtx))
      .withColumn("c2", count(lit(1)).over(wPair))
      .crossJoin(broadcast(v))
      .withColumn("nll",
        -log((col("c2") + lit(1.0)) / (col("c1") + col("v"))))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), dsum(col("nll")).as("sum_nll"))
      .select(col("doc_id"), col("n_bigrams"),
        round(col("sum_nll").cast("double") / col("n_bigrams"), 6)
          .as("avg_nll"))
      .orderBy(col("doc_id"))
  }

  private val x16Sql =
    s"""WITH tokens AS (
       | SELECT doc_id, generate_subscripts(ts, 1) AS pos,
       |  unnest(ts) AS w1
       | FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ts
       |       FROM documents)),
       |bi AS (
       | SELECT doc_id, w1, w2 FROM (
       |  SELECT doc_id, w1,
       |   lead(w1) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
       |  FROM tokens) WHERE w2 IS NOT NULL),
       |c2 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c2
       |       FROM bi GROUP BY 1, 2),
       |c1 AS (SELECT w1, CAST(count(*) AS BIGINT) AS c1
       |       FROM bi GROUP BY 1),
       |v AS (SELECT CAST(count(DISTINCT w1) AS DOUBLE) AS v FROM tokens),
       |sc AS (
       | SELECT b.doc_id, -ln((c2.c2 + 1.0) / (c1.c1 + v.v)) AS nll
       | FROM bi b JOIN c2 USING (w1, w2) JOIN c1 USING (w1)
       | CROSS JOIN v),
       |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       |  ${sqlDsum("nll")} AS sum_nll
       | FROM sc GROUP BY doc_id)
       |SELECT doc_id, n_bigrams,
       | round(CAST(sum_nll AS DOUBLE) / n_bigrams, 6) AS avg_nll
       |FROM agg ORDER BY doc_id""".stripMargin

  // X17 — corpus DRIFT monitor: total-variation distance between each
  // source's token distribution and the corpus-wide distribution —
  // the "did this crawl snapshot shift under me" check a pipeline runs
  // per ingest. TV is chosen over KL deliberately: it needs NO
  // logarithms, so the whole statistic reduces to integer arithmetic
  // (exact at any parallelism, one final division) — TV_s =
  // (Σ_{w∈s}(|c_sw·T − c_w·T_s| − c_w·T_s) + T·T_s) / (2·T_s·T), where
  // the closed-form remainder folds in every corpus token the source
  // never uses (Σ_w c_w = T), so only source-present tokens ever join.
  // Scale shape: one map-side-combined (source, token) count shuffle,
  // corpus counts and source totals as WINDOW sums over those partials
  // (the raw token stream never shuffles at all — both windows move
  // only the aggregated (source, token) rows), and a per-source rollup
  // that reuses the source window's partitioning; the grand total
  // rides as a broadcast 1-row frame. Products run
  // in DECIMAL(38,0) — exact where BIGINT would overflow at 100 TB.
  private def x17(s: SparkSession, d: String): DataFrame = {
    val srcCnt = tokenizedDocs(s, d)
      .select(col("source"), explode(col("ts")).as("w"))
      .groupBy(col("source"), col("w"))
      .agg(count(lit(1)).as("c_sw"))
    // c_w and t_s as windows over srcCnt (round 18): the old shape
    // re-derived the scan+tokenize+count subtree FOUR times (corpCnt,
    // totS, the join input, totAll-via-corpCnt) and paid a token-keyed
    // join plus a broadcast join; the window form runs the subtree
    // twice (once for the scored rows, once for the 1-row grand total)
    // with the same exchange keys. The final per-source rollup reuses
    // the source window's partitioning — no fifth exchange.
    val wTok = org.apache.spark.sql.expressions.Window
      .partitionBy(col("w"))
    val wSrc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"))
    val totAll = srcCnt.agg(sum(col("c_sw")).as("t_all"))
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val dev = abs(dec(col("c_sw")) * dec(col("t_all")) -
      dec(col("c_w")) * dec(col("t_s")))
    srcCnt
      .withColumn("c_w", sum(col("c_sw")).over(wTok))
      .withColumn("t_s", sum(col("c_sw")).over(wSrc))
      .crossJoin(broadcast(totAll))
      .groupBy(col("source"), col("t_s"), col("t_all"))
      .agg(count(lit(1)).as("n_vocab"),
        sum(dev - dec(col("c_w")) * dec(col("t_s"))).as("acc"))
      .select(col("source"), col("t_s").as("n_tokens"), col("n_vocab"),
        round((col("acc") + dec(col("t_s")) * dec(col("t_all")))
          .cast("double") /
          (lit(2L) * dec(col("t_s")) * dec(col("t_all"))).cast("double"),
          6).as("tv_distance"))
      .orderBy(col("source"))
  }

  private val x17Sql =
    s"""WITH sc AS (
       | SELECT source, w, CAST(count(*) AS BIGINT) AS c_sw
       | FROM (SELECT source,
       |   unnest(string_split_regex(trim(text), '\\s+')) AS w
       |  FROM documents)
       | GROUP BY 1, 2),
       |cc AS (SELECT w, ${sqlLsum("c_sw")} AS c_w FROM sc GROUP BY 1),
       |ts AS (SELECT source, ${sqlLsum("c_sw")} AS t_s FROM sc GROUP BY 1),
       |ta AS (SELECT ${sqlLsum("c_w")} AS t_all FROM cc)
       |SELECT source, t_s AS n_tokens,
       | CAST(count(*) AS BIGINT) AS n_vocab,
       | round(CAST(sum(abs(CAST(c_sw AS HUGEINT) * t_all
       |     - CAST(c_w AS HUGEINT) * t_s)
       |    - CAST(c_w AS HUGEINT) * t_s)
       |   + CAST(t_s AS HUGEINT) * t_all AS DOUBLE)
       |  / CAST(2 * CAST(t_s AS HUGEINT) * t_all AS DOUBLE), 6)
       |  AS tv_distance
       |FROM sc JOIN cc USING (w) JOIN ts USING (source) CROSS JOIN ta
       |GROUP BY source, t_s, t_all ORDER BY source""".stripMargin

  // X18 — approximate quantiles over the DETERMINISTIC min-hash sample
  // (plans/BottomKByHash): the oracle-able twin of x8's sketch path.
  // "k smallest md5(doc_id) hashes" is a uniform random-but-reproducible
  // sample of docs — a pure set function of the input, identical at any
  // parallelism — so rank-selection quantiles over the sample pass the
  // cross-engine hash gate where approx_percentile's KLL cannot. Same
  // bounded O(k)-state map-side shape as a16c; x7's engine-identical
  // integer rank positions.
  private val SampleK = 256

  private def x18(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .withColumn("h",
        conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
          .cast("long"))
      .withColumn("v", size(toks).cast("double"))
      .groupBy(col("source"))
      .agg(expr(s"bottom_k_hv(h, v, $SampleK)").as("sk"))
      .withColumn("vals", expr("array_sort(transform(sk, x -> x.v))"))
      .withColumn("n", size(col("vals")))
      .select(col("source"), col("n").cast("long").as("n_sample"),
        ((element_at(col("vals"), expr("CAST((n + 1) div 2 AS INT)")) +
          element_at(col("vals"), expr("CAST((n + 2) div 2 AS INT)"))) /
          2.0).as("median_tokens"),
        element_at(col("vals"), expr("CAST((9 * n + 9) div 10 AS INT)"))
          .as("p90_tokens"))
      .orderBy(col("source"))

  private val x18Sql =
    s"""WITH dv AS (SELECT source,
       |  CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
       |   AS BIGINT) AS h,
       |  CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE) AS v
       | FROM documents),
       |sm AS (SELECT source, h, min(v) AS v FROM dv GROUP BY 1, 2),
       |r AS (SELECT source, v,
       |  row_number() OVER (PARTITION BY source ORDER BY h) AS hr
       | FROM sm),
       |samp AS (SELECT source, v FROM r WHERE hr <= $SampleK),
       |rv AS (SELECT source, v,
       |  row_number() OVER (PARTITION BY source ORDER BY v) AS rn,
       |  count(*) OVER (PARTITION BY source) AS n
       | FROM samp)
       |SELECT source, CAST(max(n) AS BIGINT) AS n_sample,
       | (sum(CASE WHEN rn = (n + 1) // 2 THEN v ELSE 0 END)
       |  + sum(CASE WHEN rn = (n + 2) // 2 THEN v ELSE 0 END)) / 2.0
       |  AS median_tokens,
       | sum(CASE WHEN rn = (9 * n + 9) // 10 THEN v ELSE 0 END)
       |  AS p90_tokens
       |FROM rv GROUP BY source ORDER BY source""".stripMargin

  /** The corpus pre-tokenizer pattern, shared by x5/x12/x13 and their
    * oracles (single source, rendered into the SQL). */
  private val PretokPat = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \\t\\n\\f\\r]"

  /** Recursive-CTE twin of the BPE TRAINER (round 9 — x12 graduates
    * from rows-only): the working table carries every word's
    * segmentation as a space-joined string; each round picks the argmax
    * pair with a LATERAL aggregate over the previous iteration (count
    * DESC, then memcmp pair — DuckDB's VARCHAR order IS UTF-8 bytes,
    * the u8lt contract), and applies ONE greedy left-to-right
    * non-overlapping merge pass as a `list_reduce` fold that is
    * line-for-line the Scala `mergePass`/`functions.aggregate` fold
    * (append `r` without a separator when the accumulator's LAST token
    * equals `l` — the leading-space suffix check is the exact-token
    * guard; a naive string replace fails the shared-delimiter
    * "banana" case). Fully-merged words leave the active set like the
    * driver loop's `length > 1` filter. */
  private def bpeTrainCtes(k: Int): String =
    s"""vocab AS (
       |  SELECT ' ' || array_to_string(string_split(word, ''), ' ')
       |    AS seg, CAST(count(*) AS BIGINT) AS freq
       |  FROM (SELECT unnest(regexp_extract_all(text, '$PretokPat'))
       |     AS word FROM documents)
       |  WHERE len(word) > 1
       |  GROUP BY word),
       |t(it, seg, freq, ml, mr, mf) AS (
       |  SELECT 1, seg, freq, CAST(NULL AS VARCHAR),
       |    CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT) FROM vocab
       |  UNION ALL
       |  SELECT it + 1,
       |    list_reduce(list_prepend('', string_split(trim(seg), ' ')),
       |      (acc, x) -> CASE
       |        WHEN ends_with(acc, ' ' || b.l) AND x = b.r
       |        THEN acc || b.r ELSE acc || ' ' || x END),
       |    freq, b.l, b.r, b.f
       |  FROM t, LATERAL (
       |    SELECT l, r, f FROM (
       |      SELECT s[i] AS l, s[i+1] AS r, sum(freq) AS f
       |      FROM (SELECT string_split(trim(seg), ' ') AS s, freq
       |         FROM t) z,
       |        unnest(range(1, len(s))) AS u(i)
       |      GROUP BY 1, 2
       |      ORDER BY f DESC, l, r LIMIT 1)) b
       |  WHERE it <= $k AND len(string_split(trim(seg), ' ')) > 1),
       |m AS (SELECT DISTINCT it - 1 AS rank, ml, mr, mf FROM t
       |  WHERE it > 1)""".stripMargin

  private val x12Sql =
    s"""WITH RECURSIVE ${bpeTrainCtes(16)}
       |SELECT rank, ml AS "left", mr AS "right",
       | ml || mr AS merged, mf AS freq
       |FROM m ORDER BY rank""".stripMargin

  /** Oracle twin of the BPE ENCODE side (x13 graduates with x12): a
    * second recursion replays the trained merge list rank-by-rank over
    * every distinct corpus word with the SAME `list_reduce` merge-pass
    * fold (`encodeWord`'s contains() skip is a pure optimization — a
    * pass that can't apply leaves the fold unchanged), then token
    * counts join back to word instances and roll up per language.
    * Empty documents keep their row via the LEFT JOIN, mirroring the
    * mapPartitions path that emits (lang, 0, 0). */
  private val x13Sql =
    s"""WITH RECURSIVE ${bpeTrainCtes(16)},
       |inst AS (SELECT doc_id, lang,
       |  unnest(regexp_extract_all(text, '$PretokPat')) AS word
       | FROM documents),
       |e(it, word, seg) AS (
       |  SELECT 1, word,
       |   ' ' || array_to_string(string_split(word, ''), ' ')
       |  FROM (SELECT DISTINCT word FROM inst)
       |  UNION ALL
       |  SELECT it + 1, word,
       |   CASE WHEN mm.ml IS NULL THEN seg ELSE
       |    list_reduce(list_prepend('', string_split(trim(seg), ' ')),
       |     (acc, x) -> CASE
       |       WHEN ends_with(acc, ' ' || mm.ml) AND x = mm.mr
       |       THEN acc || mm.mr ELSE acc || ' ' || x END) END
       |  FROM e LEFT JOIN m mm ON mm.rank = e.it
       |  WHERE it <= 16),
       |tokc AS (SELECT word,
       |  CAST(len(string_split(trim(seg), ' ')) AS BIGINT) AS ntok
       | FROM e WHERE it = 17),
       |per_doc AS (SELECT i.doc_id, count(*) AS nw, sum(ntok) AS nt
       | FROM inst i JOIN tokc USING (word) GROUP BY 1)
       |SELECT d.lang, count(*) AS n_docs,
       | ${sqlLsum("coalesce(p.nw, 0)")} AS sum_words,
       | ${sqlLsum("coalesce(p.nt, 0)")} AS sum_tokens,
       | round(CAST(sum(coalesce(p.nt, 0)) AS DOUBLE)
       |   / sum(coalesce(p.nw, 0)), 6) AS tok_per_word
       |FROM documents d LEFT JOIN per_doc p USING (doc_id)
       |GROUP BY d.lang ORDER BY d.lang""".stripMargin

  // ---- X19/X20 — trained quality classifier (logistic regression) --
  //
  // The GPT-3-style quality-filter setup: train a linear classifier
  // whose positive class is a curated slice (here the labeled-'en'
  // slice stands in for the curated corpus) over quality-shape
  // features, then score the whole corpus with it. Full-batch gradient
  // descent; every round is ONE aggregation of k+1 exact-decimal
  // gradient sums (order-independent → partitioning-proof), mirrored
  // by a DuckDB recursive CTE. The nonlinearity is the ALGEBRAIC
  // sigmoid σ(z) = 0.5 + z/(2(1+|z|)) — chosen over exp() DELIBERATELY:
  // it is a fixed sequence of exact IEEE ops both engines evaluate
  // bit-identically, where exp()'s last ulp varies between libm
  // builds and would break the cross-engine hash gate. Features are
  // bounded [0,1] ratios (length, stopword, vocabulary diversity,
  // char-length), so a unit learning rate needs no scaling.
  // Architecture matches every trainer here: the corpus-scale work is
  // the per-round gradient pass; the k+1-vector update is driver-side;
  // size dispatch + forced-distributed bench twin; memoized artifact
  // consumed by the scorer (x20).
  private val LrIters = 8
  private val LrFeatDim = 5 // bias + 4 quality features
  private val LrDriverCap = 100_000L

  /** Quality-shape features + curated-slice label, shared by BOTH
    * dispatch paths (the driver twin collects THIS frame, so the two
    * paths can only differ in the GD loop — which exact-decimal
    * gradient sums make identical). */
  private def lrFeats(s: SparkSession, d: String): DataFrame =
    withTokenStats(Tables.documents(s, d))
      .select(col("doc_id"), col("source"),
        when(col("lang") === "en", 1.0).otherwise(0.0).as("y"),
        array(lit(1.0),
          least(col("n_tokens") / 100.0, lit(1.0)),
          col("n_stop") / col("n_tokens"),
          col("n_distinct") / col("n_tokens"),
          least(col("n_chars").cast("double") / 500.0, lit(1.0)))
          .as("f"))

  /** Oracle twin of [[lrFeats]] — same expression tree per feature. */
  private val lrFeatsSql =
    s"""feats AS MATERIALIZED (
       | SELECT doc_id, source,
       |  CAST(CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS DOUBLE)
       |   AS y,
       |  [CAST(1.0 AS DOUBLE),
       |   least(n_tokens / 100.0, 1.0),
       |   n_stop / n_tokens,
       |   n_distinct / n_tokens,
       |   least(CAST(n_chars AS DOUBLE) / 500.0, 1.0)] AS f
       | FROM (SELECT doc_id, source, lang, n_chars,
       |  $sqlTokenStatsCols
       |  FROM documents))"""

  private def lrSigma(z: Double): Double =
    0.5 + z / (2.0 * (1.0 + math.abs(z)))

  private def lrSigmaCol(z: Column): Column =
    lit(0.5) + z / (lit(2.0) * (lit(1.0) + abs(z)))

  private def sqlLrSigma(z: String): String =
    s"0.5 + $z / (2.0 * (1.0 + abs($z)))"

  private def lrDot(f: Column, w: Array[Double]): Column =
    aggregate(zip_with(f, lit(w), (x, y) => x * y),
      lit(0.0), (acc, v) => acc + v)

  /** (weights, final Brier score, n), memoized per (session, dir). */
  private[graft] val lrStage = new StageMemo(runLr(_, _))

  /** Bench/test hook: forget the trained classifier. */
  def resetLr(): Unit = lrStage.reset()

  /** Bench hook: train + memoize the shared LR stage for (s, d). */
  def warmLr(s: SparkSession, d: String): Unit = { lrStage(s, d); () }

  /** Bench hook: forced-DISTRIBUTED twin (cap = 0). Not memoized. */
  def warmLrDistributed(s: SparkSession, d: String): Unit = {
    runLr(s, d, cap = 0L); ()
  }

  /** Bench warmup hook: pre-compile the distributed-LR codegen (the
    * gradient/Brier job shapes — zip_with/aggregate dot, posexplode,
    * exact-decimal sums) on a micro frame, so the timed
    * stage:lrdist_train line measures the gradient compute, not
    * Janino/JIT of its generated classes (measured: first run 4.7 s
    * vs 1.7 s warm — a 2.7× cold-start the trend guard kept flagging).
    * Corpus-independent: never touches sfDir. */
  def warmLrCodegen(s: SparkSession): Unit = {
    import s.implicits._
    val tiny = Seq(
      (1.0, Seq(1.0, 0.1, 0.2, 0.3, 0.4)),
      (0.0, Seq(1.0, 0.5, 0.4, 0.3, 0.2))).toDF("y", "f")
      .persist() // the real path reads a persisted frame - the fused
    tiny.count() // codegen differs on the input shape, so match it
    try { distributedLr(tiny, 2L); () }
    finally { tiny.unpersist(false); () }
  }

  private[graft] def runLr(s: SparkSession, d: String,
      cap: Long = LrDriverCap): (Array[Double], Double, Long) = {
    // spread() ahead of the tokenize-heavy feature pass: a sub-128 MB
    // parquet arrives as ONE partition, and the cache materialization
    // plus all 9 gradient/Brier jobs would tokenize single-threaded
    val feats = spread(lrFeats(s, d).select(col("y"), col("f")))
      .persist()
    try {
      val n = feats.count()
      if (n <= cap) {
        val rows = feats.collect().map(r =>
          (r.getDouble(0), r.getSeq[Double](1).toArray))
        driverLr(rows, n)
      } else distributedLr(feats, n)
    } finally { feats.unpersist(false); () }
  }

  /** Sequential twin of [[distributedLr]]: same z fold order, same
    * algebraic sigma, same scale-12 HALF_UP per-term rounding, exact
    * adds — bit-equal by construction, pinned by TextLrSpec. */
  private def driverLr(rows: Array[(Double, Array[Double])],
      n: Long): (Array[Double], Double, Long) = {
    var w = Array.fill(LrFeatDim)(0.0)
    def zOf(f: Array[Double]): Double = {
      var acc = 0.0; var j = 0
      while (j < LrFeatDim) { acc += f(j) * w(j); j += 1 }
      acc
    }
    for (_ <- 1 to LrIters) {
      val g = Array.fill(LrFeatDim)(java.math.BigDecimal.ZERO)
      rows.foreach { case (y, f) =>
        val e = y - lrSigma(zOf(f))
        var j = 0
        while (j < LrFeatDim) {
          g(j) = g(j).add(bd12(e * f(j))); j += 1
        }
      }
      w = Array.tabulate(LrFeatDim)(j => w(j) + g(j).doubleValue() / n)
    }
    var bsum = java.math.BigDecimal.ZERO
    rows.foreach { case (y, f) =>
      val e = y - lrSigma(zOf(f))
      bsum = bsum.add(bd12(e * e))
    }
    (w, bsum.doubleValue() / n, n)
  }

  private def distributedLr(feats: DataFrame,
      n: Long): (Array[Double], Double, Long) = {
    var w = Array.fill(LrFeatDim)(0.0)
    for (_ <- 1 to LrIters) {
      val g = feats
        .withColumn("e", col("y") - lrSigmaCol(lrDot(col("f"), w)))
        .select(col("e"), posexplode(col("f")).as(Seq("j", "fj")))
        .groupBy(col("j"))
        .agg(sum(dec12(col("e") * col("fj"))).as("g"))
        .collect()
      val gv = Array.fill(LrFeatDim)(java.math.BigDecimal.ZERO)
      g.foreach(r => gv(r.getInt(0)) = r.getDecimal(1))
      w = Array.tabulate(LrFeatDim)(j => w(j) + gv(j).doubleValue() / n)
    }
    val brier = feats
      .withColumn("e", col("y") - lrSigmaCol(lrDot(col("f"), w)))
      .agg(sum(dec12(col("e") * col("e"))).as("b"))
      .collect().head.getDecimal(0).doubleValue() / n
    (w, brier, n)
  }

  /** Recursive-CTE twin of the GD loop: w carried as DOUBLE[k+1];
    * each round one grouped exact-decimal gradient aggregation. */
  private def lrCtes(iters: Int): String =
    s"""${lrFeatsSql},
       |nn AS MATERIALIZED (SELECT count(*) AS n FROM feats),
       |t(it, w) AS (
       |  SELECT 1, [CAST(0.0 AS DOUBLE), 0.0, 0.0, 0.0, 0.0]
       |  UNION ALL
       |  SELECT it + 1, list(w2 ORDER BY j)
       |  FROM (
       |   SELECT t.it AS it, r.j AS j,
       |    t.w[r.j] + CAST(sum(CAST(
       |      (d.y - (${sqlLrSigma("list_dot_product(d.f, t.w)")}))
       |       * d.f[r.j] AS DECIMAL(38,12))) AS DOUBLE) / nn.n AS w2
       |   FROM t, feats d, nn, unnest(range(1, ${LrFeatDim + 1})) AS r(j)
       |   WHERE t.it <= $iters
       |   GROUP BY t.it, r.j, t.w[r.j], nn.n)
       |  GROUP BY it),
       |trained AS MATERIALIZED (SELECT w FROM t WHERE it = ${iters + 1}),
       |brier AS MATERIALIZED (
       | SELECT CAST(sum(CAST(
       |    (d.y - (${sqlLrSigma("list_dot_product(d.f, f.w)")}))
       |    * (d.y - (${sqlLrSigma("list_dot_product(d.f, f.w)")}))
       |   AS DECIMAL(38,12))) AS DOUBLE) / nn.n AS b
       | FROM feats d, trained f, nn GROUP BY nn.n)""".stripMargin

  // X19 — the trained classifier artifact: per-feature weight + the
  // final full-corpus Brier score (squared error — exact arithmetic,
  // unlike log-loss whose log() would break the cross-engine gate).
  private def x19(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val (w, brier, _) = lrStage(s, d)
    val names = Seq("bias", "len_tokens", "stop_ratio",
      "distinct_ratio", "len_chars")
    w.indices.map(j => (j, names(j), w(j), brier)).toSeq
      .toDF("widx", "feature", "weight", "brier")
      .withColumn("weight", round(col("weight"), 6))
      .withColumn("brier", round(col("brier"), 6))
      .orderBy(col("widx"))
  }

  private val x19Sql =
    s"""WITH RECURSIVE ${lrCtes(LrIters)}
       |SELECT r.j - 1 AS widx,
       | ['bias', 'len_tokens', 'stop_ratio', 'distinct_ratio',
       |  'len_chars'][r.j] AS feature,
       | round(f.w[r.j], 6) AS weight, round(b.b, 6) AS brier
       |FROM trained f, brier b, unnest(range(1, ${LrFeatDim + 1})) AS r(j)
       |ORDER BY widx""".stripMargin

  // X20 — serve the trained classifier: score every document, roll up
  // per source (the per-source quality profile a mixing step consumes).
  private def x20(s: SparkSession, d: String): DataFrame = {
    val (w, _, _) = lrStage(s, d)
    lrFeats(s, d)
      .withColumn("p", round(lrSigmaCol(lrDot(col("f"), w)), 6))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("p") >= 0.5, 1L).otherwise(0L)).as("n_pos"),
        decOut(sum(dec6(col("p")))).as("p_mass"),
        min(col("p")).as("min_p"),
        max(col("p")).as("max_p"))
      .orderBy(col("source"))
  }

  private val x20Sql =
    s"""WITH RECURSIVE ${lrCtes(LrIters)},
       |scored AS (
       | SELECT d.source,
       |  round(${sqlLrSigma("list_dot_product(d.f, f.w)")}, 6) AS p
       | FROM feats d, trained f)
       |SELECT source, count(*) AS n_docs,
       | ${sqlLsum("CASE WHEN p >= 0.5 THEN 1 ELSE 0 END")} AS n_pos,
       | ${sqlDecOut("sum(CAST(p AS DECIMAL(38,6)))")} AS p_mass,
       | min(p) AS min_p, max(p) AS max_p
       |FROM scored GROUP BY source ORDER BY source""".stripMargin

  // X21 — count-min sketch heavy hitters: the bounded-memory frequency
  // structure next to the repo's other sketches (HLL a16b, KMV a16c,
  // bottom-k a18, KLL x8 / sample x18). depth×width = 4×256 counters;
  // row hashes are md5-derived (the d3/d4/v8 cross-engine family), so
  // the sketch is DETERMINISTIC and the DuckDB oracle rebuilds it
  // cell-for-cell — unlike the engine-specific HLL/KLL binaries, a CMS
  // is just a keyed aggregation and needs no rows-only carve-out.
  // Build shape: the exact per-token counts feed the cells (4 rows per
  // DISTINCT token, not per occurrence — numerically identical, ~50×
  // cheaper), one (r, col) aggregation; the heavy-hitter queries then
  // join their 4 cells and take the min estimate. Output pins the CMS
  // guarantee est ≥ exact (TextCmsSpec asserts it for every token).
  private val CmsDepth = 4
  private val CmsWidth = 256

  private def cmsCells(depth: Int, width: Int): Column = posexplode(expr(
    s"transform(sequence(0, ${depth - 1}), r -> " +
      "CAST(conv(substring(md5(concat(CAST(r AS STRING), ':', tok)), " +
      s"1, 8), 16, 10) AS LONG) % $width)"))

  /** Exact counts + CMS estimates for the top-k tokens — exposed with
    * a sketch-size knob so TextCmsSpec can force collisions with a
    * tiny width and assert the one-sided est ≥ exact guarantee. */
  /** `tokenized` carries the corpus as token arrays in `ts` (the
    * [[tokenizedDocs]] stage frame shape). */
  private[graft] def cmsEstimate(tokenized: DataFrame, depth: Int,
      width: Int, k: Int): DataFrame = {
    // eager localCheckpoint: the exact-count frame feeds THREE plan
    // subtrees (cell build, top-k, probe side), and a lazy persist
    // released in a finally would be gone before the returned frame
    // ever executes — checkpoint blocks are not CacheManager entries
    // and simply age out (the Bench warm-block pattern)
    val exact = tokenized
      .select(explode(col("ts")).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("n"))
      .localCheckpoint(true)
    val cells = exact
      .select(col("n"), cmsCells(depth, width).as(Seq("r", "c")))
      .groupBy(col("r"), col("c"))
      .agg(sum(col("n")).as("cell"))
    val top = exact.orderBy(col("n").desc, col("tok")).limit(k)
    top.select(col("tok"), col("n"),
        cmsCells(depth, width).as(Seq("r", "c")))
      .join(cells, Seq("r", "c"))
      .groupBy(col("tok"), col("n"))
      .agg(min(col("cell")).as("cms_est"))
      .orderBy(col("n").desc, col("tok"))
  }

  private def x21(s: SparkSession, d: String): DataFrame =
    cmsEstimate(tokenizedDocs(s, d), CmsDepth, CmsWidth, 10)

  private val x21Sql = {
    // oracle twin of [[cmsCells]]'s row hash, parameterized on the
    // token expression so the build and probe sides stay one template
    def h(tokExpr: String) =
      s"CAST('0x' || substr(md5(CAST(r.r AS VARCHAR) || ':' || " +
        s"$tokExpr), 1, 8) AS BIGINT) % $CmsWidth"
    s"""WITH exact AS MATERIALIZED (
       | SELECT tok, count(*) AS n
       | FROM (SELECT unnest(string_split_regex(trim(text), '\\s+'))
       |    AS tok FROM documents)
       | GROUP BY tok),
       |cells AS MATERIALIZED (
       | SELECT r.r AS r, ${h("tok")} AS c,
       |  CAST(sum(n) AS BIGINT) AS cell
       | FROM exact, unnest(range(0, $CmsDepth)) AS r(r)
       | GROUP BY 1, 2),
       |top AS (SELECT tok, n FROM exact
       | ORDER BY n DESC, tok LIMIT 10)
       |SELECT t.tok, t.n, min(cells.cell) AS cms_est
       |FROM top t, unnest(range(0, $CmsDepth)) AS r(r)
       | JOIN cells ON cells.r = r.r AND cells.c = ${h("t.tok")}
       |GROUP BY t.tok, t.n
       |ORDER BY n DESC, tok""".stripMargin
  }

  // X22 — SymSpell typo canonicalization: vocabulary normalization via
  // deletion-neighborhood blocking. The naive edit-distance matcher is
  // an O(V²) cross join; SymSpell's observation is that two words within
  // edit distance 1 always SHARE a 1-deletion variant (or one IS the
  // other's variant), so candidates come from an equi-join on the
  // variant key — |w|+1 variants per word, linear fan-out, no quadratic
  // block anywhere. Levenshtein then verifies (variant sharing admits
  // distance-2 via delete+insert). The noisy side is injected
  // deterministically (docs with doc_id % 13 == 0 contribute each token
  // with the (doc_id % len)-th char deleted — the OCR/typo noise the
  // matcher exists to repair), so both engines derive the identical
  // vocabulary and the whole engine sits under the hash gate. Canonical
  // form = the higher-frequency side (ties: lexicographic min).
  private def x22(s: SparkSession, d: String): DataFrame = {
    val tokens = tokenizedDocs(s, d).filter(col("doc_id") < 2000)
      .select(col("doc_id"), explode(col("ts")).as("w"))
    val noisy = tokens
      .filter(col("doc_id") % 13 === 0 && length(col("w")) >= 3)
      .select(concat(
        expr("substring(w, 1, CAST(doc_id % length(w) AS INT))"),
        expr("substring(w, CAST(doc_id % length(w) AS INT) + 2, 1000000)"))
        .as("w"))
    val vocab = tokens.select(col("w")).union(noisy)
      .groupBy(col("w")).agg(count(lit(1)).as("f"))
    val ex = vocab.select(col("w"), col("f"),
      explode(array_distinct(concat(array(col("w")),
        expr("""transform(sequence(1, length(w)),
                i -> concat(substring(w, 1, i - 1),
                            substring(w, i + 1, 1000000)))"""))))
        .as("v"))
    ex.as("x").join(ex.as("y"),
        col("x.v") === col("y.v") && col("x.w") < col("y.w"))
      .select(col("x.w").as("wa"), col("x.f").as("fa"),
        col("y.w").as("wb"), col("y.f").as("fb"))
      .distinct()
      // the BOUNDED kernel: exact when ≤ 1, else 2 (then filtered) —
      // the emitted dist values are identical to full levenshtein, so
      // the oracle keeps DuckDB's built-in
      .withColumn("dist",
        expr("levenshtein_le(wa, wb, 1)").cast("long"))
      .filter(col("dist") <= 1)
      .withColumn("canon",
        when(col("fa") > col("fb"), col("wa"))
          .when(col("fb") > col("fa"), col("wb"))
          .otherwise(least(col("wa"), col("wb"))))
      .select(col("wa"), col("wb"), col("dist"), col("fa"), col("fb"),
        col("canon"))
      .orderBy(col("wa"), col("wb"))
  }

  private val x22Sql =
    """WITH tk AS (SELECT doc_id,
      |   unnest(string_split_regex(trim(text), '\s+')) AS w
      |  FROM documents WHERE doc_id < 2000),
      |noisy AS (SELECT substr(w, 1, CAST(doc_id % len(w) AS INT)) ||
      |   substr(w, CAST(doc_id % len(w) AS INT) + 2, 1000000) AS w
      |  FROM tk WHERE doc_id % 13 = 0 AND len(w) >= 3),
      |vocab AS (SELECT w, count(*) AS f FROM (
      |  SELECT w FROM tk UNION ALL SELECT w FROM noisy) GROUP BY 1),
      |ex AS (SELECT w, f, unnest(list_distinct(list_prepend(w,
      |   list_transform(range(1, len(w) + 1),
      |     i -> substr(w, 1, i - 1) || substr(w, i + 1, 1000000))))) AS v
      |  FROM vocab),
      |cand AS (SELECT DISTINCT x.w AS wa, x.f AS fa, y.w AS wb, y.f AS fb
      |  FROM ex x JOIN ex y ON x.v = y.v AND x.w < y.w)
      |SELECT wa, wb, CAST(levenshtein(wa, wb) AS BIGINT) AS dist, fa, fb,
      | CASE WHEN fa > fb THEN wa WHEN fb > fa THEN wb
      |  ELSE least(wa, wb) END AS canon
      |FROM cand WHERE levenshtein(wa, wb) <= 1 ORDER BY wa, wb""".stripMargin

  // X23 — novelty / memorization scoring: for every training doc, the
  // fraction of its distinct 3-word grams NOT present in the reference
  // slice (doc_id % 100 == 0 — the eval/benchmark convention c1 uses).
  // c1 counts contaminated PAIRS; this is the per-doc scalar the
  // memorization literature filters on (novelty below threshold ⇒ the
  // doc largely restates reference material). Reference grams broadcast
  // (c1's contract — the corpus side never shuffles for the membership
  // probe); per-doc novelty is a left-join mark + one doc rollup.
  private val NoveltyGram = 3
  private def x23(s: SparkSession, d: String): DataFrame = {
    val g = tokenizedDocs(s, d).filter(col("doc_id") < 2000)
      // shorter docs have no full gram; filter BEFORE the sequence — a
      // negative stop would make sequence() count DOWN, not empty
      .filter(size(col("ts")) >= NoveltyGram)
      .select(col("doc_id"), col("source"),
        explode(array_distinct(expr(
          s"""transform(
             |  sequence(0, size(ts) - $NoveltyGram),
             |  i -> array_join(slice(ts, i + 1, $NoveltyGram), ' '))"""
            .stripMargin))).as("g"))
    val ref = g.filter(col("doc_id") % 100 === 0)
      .select(col("g")).distinct().withColumn("seen", lit(1))
    val perDoc = g.filter(col("doc_id") % 100 =!= 0)
      .join(broadcast(ref), Seq("g"), "left")
      .groupBy(col("doc_id"), col("source"))
      .agg(count(lit(1)).as("n_grams"), count(col("seen")).as("n_seen"))
      .withColumn("novelty", round(lit(1.0) -
        col("n_seen").cast("double") / col("n_grams"), 6))
    perDoc.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        dmean(col("novelty")).as("avg_novelty"),
        count(when(col("novelty") < 0.5, 1)).as("n_low_novelty"))
      .orderBy(col("source"))
  }

  private val x23Sql = {
    val n = NoveltyGram
    s"""WITH tk AS (SELECT doc_id, source,
       |   string_split_regex(trim(text), '\\s+') AS t
       |  FROM documents WHERE doc_id < 2000),
       |g AS (SELECT doc_id, source, unnest(list_distinct(
       |   list_transform(range(1, len(t) - $n + 2),
       |     i -> array_to_string(t[i:i+${n - 1}], ' ')))) AS g
       |  FROM tk WHERE len(t) >= $n),
       |ref AS (SELECT DISTINCT g FROM g WHERE doc_id % 100 = 0),
       |pd AS (SELECT doc_id, source, count(*) AS n_grams,
       |   count(ref.g) AS n_seen
       |  FROM (SELECT * FROM g WHERE doc_id % 100 <> 0) tr
       |  LEFT JOIN ref ON tr.g = ref.g
       |  GROUP BY 1, 2),
       |nv AS (SELECT source, round(CAST(1.0 AS DOUBLE) -
       |   CAST(n_seen AS DOUBLE) / n_grams, 6) AS novelty FROM pd)
       |SELECT source, count(*) AS n_docs,
       | ${sqlDmean("novelty")} AS avg_novelty,
       | count(CASE WHEN novelty < 0.5 THEN 1 END) AS n_low_novelty
       |FROM nv GROUP BY source ORDER BY source""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "x21_cms_heavy" -> (x21 _),
    "x22_typo_canon" -> (x22 _),
    "x23_novelty" -> (x23 _),
    "x19_lr_train" -> (x19 _),
    "x20_lr_score" -> (x20 _),
    "x18_sample_quantiles" -> (x18 _),
    "x17_source_drift" -> (x17 _),
    "x16_bigram_ppl" -> (x16 _),
    "x12_bpe_merges" -> (x12 _),
    "x13_bpe_encode" -> (x13 _),
    "x14_tfidf_terms" -> (x14 _),
    "x15_bm25" -> (x15 _),
    "x10_scrub_stats" -> (x10 _),
    "x11_redact" -> (x11 _),
    "x1_text_stats" -> (x1 _),
    "x2_quality_score" -> (x2 _),
    "x3_langid" -> (x3 _),
    "x4_fingerprint" -> (x4 _),
    "x5_bpe_tokens" -> (x5 _),
    "x6_repetition" -> (x6 _),
    "x7_length_quantiles" -> (x7 _),
    "x8_approx_quantiles" -> (x8 _),
    "x9_bpe_pairs" -> (x9 _),
  )

  val oracles: Map[String, String] = Map(
    "x21_cms_heavy" -> x21Sql,
    "x22_typo_canon" -> x22Sql,
    "x23_novelty" -> x23Sql,
    "x19_lr_train" -> x19Sql,
    "x20_lr_score" -> x20Sql,
    "x1_text_stats" -> x1Sql,
    "x2_quality_score" -> x2Sql,
    "x3_langid" -> x3Sql,
    "x4_fingerprint" -> x4Sql,
    "x5_bpe_tokens" -> x5Sql,
    "x6_repetition" -> x6Sql,
    "x7_length_quantiles" -> x7Sql,
    "x9_bpe_pairs" -> x9Sql,
    "x10_scrub_stats" -> x10Sql,
    "x11_redact" -> x11Sql,
    "x14_tfidf_terms" -> x14Sql,
    "x15_bm25" -> x15Sql,
    "x16_bigram_ppl" -> x16Sql,
    "x17_source_drift" -> x17Sql,
    "x18_sample_quantiles" -> x18Sql,
    "x12_bpe_merges" -> x12Sql,
    "x13_bpe_encode" -> x13Sql,
  )
}
