package graft.decode

import graft.functions.Codec
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Storage-trace decode — SURVEY P9 (ref substrateetl.js:6605-6773
  * `parse_trace`) and spec-version as-of selection — SURVEY §1.2
  * (ref substrateetl.js:6290 `getSpecVersionForBlockNumber`).
  *
  * The reference resolves a storage key's (pallet, storage) by matching
  * its twox128-prefix pair against a hash→name dimension built from the
  * chain metadata (paraTool.js:2025 parseStorageKey), then SCALE-decodes
  * the value with compact-length disambiguation. Here:
  *
  *  - the prefix dimension is a small DataFrame built with
  *    [[Codec.twox128]] and broadcast-joined against traces;
  *  - the value decode runs [[Codec.compactDecode]] inside a
  *    mapPartitions-friendly scala function exposed as a UDF;
  *  - spec-version selection is an as-of join on block_number.
  */
object TraceDecode {

  /** Build the (prefix_hex → section, storage) dimension from pallet and
    * storage names — the metadata-driven lookup table. */
  def prefixDim(spark: SparkSession,
      entries: Seq[(String, String)]): DataFrame = {
    import spark.implicits._
    entries.map { case (section, storage) =>
      val p = Codec.bytesToHex(
        Codec.twox128(section.getBytes("UTF-8")) ++
          Codec.twox128(storage.getBytes("UTF-8")), prefix = false)
      (p, section, storage)
    }.toDF("prefix", "section", "storage")
  }

  /** Decode a compact-prefixed u128 from a hex value (the trace value's
    * leading balance field; both compact branches —
    * ref substrateetl.js:6699-6754). Returns null on malformed input. */
  val decodeCompactHex: String => java.lang.Double = (hexVal: String) => {
    try {
      if (hexVal == null || hexVal.isEmpty) null
      else {
        val bytes = Codec.hexToBytes(hexVal)
        val (v, _) = Codec.compactDecode(bytes)
        java.lang.Double.valueOf(v.toDouble)
      }
    } catch { case _: Exception => null }
  }

  /** Resolve (section, storage) for raw storage keys via the broadcast
    * prefix dimension and decode the leading compact value — through
    * the NATIVE `compact_decode` expression
    * ([[graft.plans.CompactDecode]]), not a UDF, so the whole
    * resolve+decode projection stays inside one WholeStageCodegen
    * pipeline at scale. */
  def decodeTraces(traces: DataFrame, dim: DataFrame): DataFrame = {
    traces
      .withColumn("prefix",
        lower(regexp_replace(substring(col("k"), 1, 66), "^0x", "")))
      .join(broadcast(dim), Seq("prefix"), "left")
      .withColumn("decoded_value", expr("compact_decode(v)"))
  }

  /** Storage-KEY component dimension: like [[prefixDim]] but each entry
    * also carries its map hasher and raw-key byte width, so
    * [[extractKeyComponents]] can recover the key itself. Only the
    * `*_concat` hashers and `identity` append the raw key after the
    * hash — non-concat hashers (twox128/twox256/blake2_256) are
    * one-way and yield no component (ref paraTool.js:2025
    * parseStorageKey does the same dispatch). */
  def keyedPrefixDim(spark: SparkSession,
      entries: Seq[(String, String, String, Int)]): DataFrame = {
    import spark.implicits._
    entries.map { case (section, storage, hasher, keyBytes) =>
      val p = Codec.bytesToHex(
        Codec.twox128(section.getBytes("UTF-8")) ++
          Codec.twox128(storage.getBytes("UTF-8")), prefix = false)
      val hashChars = hasher match {
        case "blake2_128concat" => 32 // 16-byte hash ‖ raw key
        case "twox64concat" => 16 // 8-byte hash ‖ raw key
        case "identity" => 0 // raw key only
        case h => throw new IllegalArgumentException(
          s"hasher $h does not preserve the raw key")
      }
      (p, section, storage, hasher, hashChars, keyBytes)
    }.toDF("prefix", "section", "storage", "hasher", "hash_chars",
      "key_bytes")
  }

  /** Hex chars a hasher occupies BEFORE any recoverable raw key; None
    * marks the `*_concat`/identity family whose raw key follows. */
  private val hashChars: Map[String, Int] = Map(
    "blake2_128" -> 32, "blake2_256" -> 64,
    "twox128" -> 32, "twox256" -> 64,
    "blake2_128concat" -> 32, "twox64concat" -> 16, "identity" -> 0)
  private val concatFamily =
    Set("blake2_128concat", "twox64concat", "identity")

  /** Build the per-COMPONENT key-extraction dimension straight from
    * parsed metadata — the auto-onboarding closure of
    * [[keyedPrefixDim]]: every map entry's hashers and key types come
    * from [[MetadataV14.ParsedMetadata.storageKeys]] (any metadata
    * version, v9-v15), and each RECOVERABLE component gets its
    * absolute hex offset precomputed HERE, dim-side, so the extraction
    * join stays constant-arithmetic per row.
    *
    * Layout walk per entry (offsets start after "0x" + two twox128
    * prefixes = char 67): a one-way hasher advances by its hash width
    * (component not emitted — the key is unrecoverable by design); a
    * concat/identity hasher emits (offset, len) when its key type has
    * fixed width, or len = −1 ("rest of key") when variable-width AND
    * last; a variable-width component that is not last ends the walk
    * (everything after it has unknowable offsets). */
  def keyedPrefixDimFromMetadata(spark: SparkSession,
      parsed: MetadataV14.ParsedMetadata): DataFrame = {
    import spark.implicits._
    val rows = parsed.storageKeys.toSeq.flatMap {
      case ((pallet, entry), comps) =>
        val p = Codec.bytesToHex(
          Codec.twox128(pallet.getBytes("UTF-8")) ++
            Codec.twox128(entry.getBytes("UTF-8")), prefix = false)
        var off = 67
        var halted = false
        comps.zipWithIndex.flatMap { case ((hasher, kt), idx) =>
          if (halted || !hashChars.contains(hasher)) { halted = true; Nil }
          else {
            val hc = hashChars(hasher)
            val w = MetaDecode.fixedWidth(kt)
            val recoverable = concatFamily(hasher)
            val isLast = idx == comps.size - 1
            val out =
              if (!recoverable) Nil
              else w match {
                case Some(bytes) =>
                  Seq((p, pallet, entry, idx, hasher, off + hc, 2 * bytes))
                case None if isLast =>
                  Seq((p, pallet, entry, idx, hasher, off + hc, -1))
                case None => halted = true; Nil
              }
            off += hc + (if (recoverable) w.map(_ * 2).getOrElse(0) else 0)
            out
          }
        }
    }
    rows.toDF("prefix", "section", "storage", "component_idx", "hasher",
      "off_chars", "len_chars")
  }

  /** Metadata-driven storage-key component extraction: one OUTPUT row
    * per (trace key, recoverable component), raw keys sliced at the
    * dim-precomputed offsets — pure codegen'd substring arithmetic
    * after a broadcast join, like [[extractKeyComponents]] but
    * multi-key and derived from the blob instead of hand entries. */
  def extractKeyComponentsMeta(traces: DataFrame,
      dim: DataFrame): DataFrame =
    traces
      .withColumn("prefix",
        lower(regexp_replace(substring(col("k"), 1, 66), "^0x", "")))
      .join(broadcast(dim), Seq("prefix"))
      .withColumn("raw_key",
        when(col("len_chars") >= 0,
          expr("substring(k, off_chars, len_chars)"))
          .otherwise(expr("substring(k, off_chars)")))

  /** Recover the raw map key from concat-hashed storage keys: match the
    * 32-byte prefix pair against the broadcast dimension, then slice
    * the raw key at its hasher-determined offset. Pure codegen'd
    * substring arithmetic — no UDF, no shuffle beyond the broadcast.
    * Keys whose prefix is unknown keep null components (left join),
    * mirroring decodeTraces' leniency. */
  def extractKeyComponents(traces: DataFrame, dim: DataFrame): DataFrame =
    traces
      .withColumn("prefix",
        lower(regexp_replace(substring(col("k"), 1, 66), "^0x", "")))
      .join(broadcast(dim), Seq("prefix"), "left")
      // char 67 = first char after "0x" + 64 prefix chars
      .withColumn("raw_key",
        when(col("hasher").isNotNull,
          substring(col("k"), lit(67) + col("hash_chars"),
            col("key_bytes") * 2)))

  /** balances entity projection (ref schema/substrateetl/balances.json;
    * substrateetl.js:6699-6754 balance decode): System.Account trace
    * rows become one balance row per account touch — the address
    * recovered from the blake2_128concat storage key (pure substring
    * arithmetic after the broadcast dim join), the AccountInfo value
    * decoded per row (nonce + free/reserved/frozen u128s), raw amounts
    * kept exact as DECIMAL(38,0) next to the `decimals`-scaled double
    * (the reference's free_raw/free pairing). Undecodable values
    * quarantine out, like every decode tier here. */
  def balances(traces: DataFrame, dim: DataFrame, decimals: Int = 10,
      ss58Network: Int = 42): DataFrame = {
    val ai = udf((hex: String) => {
      try {
        val i = BlockDecode.decodeAccountInfo(hex)
        Some((i.nonce, i.free.toString, i.reserved.toString,
          i.frozen.toString))
      } catch { case _: Exception => None }
    })
    val scale = math.pow(10, decimals)
    extractKeyComponents(traces, dim)
      .filter(lower(col("section")) === "system" &&
        lower(col("storage")) === "account" && col("raw_key").isNotNull)
      .withColumn("ai", ai(col("v")))
      .filter(col("ai").isNotNull)
      .withColumn("address_pubkey", lower(col("raw_key")))
      .withColumn("address_ss58",
        expr(s"ss58_encode(address_pubkey, $ss58Network)"))
      .withColumn("nonce", col("ai._1"))
      .withColumn("free_raw", col("ai._2").cast("decimal(38,0)"))
      .withColumn("reserved_raw", col("ai._3").cast("decimal(38,0)"))
      .withColumn("frozen_raw", col("ai._4").cast("decimal(38,0)"))
      .withColumn("free", col("free_raw").cast("double") / scale)
      .withColumn("reserved", col("reserved_raw").cast("double") / scale)
      .withColumn("frozen", col("frozen_raw").cast("double") / scale)
      .drop("ai", "prefix", "hasher", "hash_chars", "key_bytes",
        "raw_key")
  }

  /** As-of spec-version selection: latest spec with
    * `spec.block_number <= block.block_number`
    * (ref substrateetl.js:6290).
    *
    * The upgrade dimension is tiny (one row per runtime upgrade), so
    * each spec becomes a half-open validity interval via `lead` over the
    * DIM ONLY, and the block side flows through a broadcast range join
    * — no window, no shuffle, no single-partition sort of the (enormous)
    * block table. Intervals partition the number line, so the range
    * predicate matches each block at most once. Blocks before the first
    * upgrade keep a null spec_version (left join). */
  def withSpecVersion(blocks: DataFrame, specVersions: DataFrame): DataFrame = {
    val w = Window.orderBy(col("sv_from")) // dim-only: rows = upgrades
    val iv = specVersions
      .select(col("block_number").as("sv_from"),
        col("spec_version").as("sv"))
      .withColumn("sv_to", lead(col("sv_from"), 1).over(w))
    blocks.select(col("block_number"))
      .join(broadcast(iv),
        col("block_number") >= col("sv_from") &&
          (col("sv_to").isNull || col("block_number") < col("sv_to")),
        "left")
      .select(col("block_number"), col("sv").as("spec_version"))
  }
}
