package graft.store

import graft.codec.OrderedCodec
import graft.io.SidecarFs
import java.io._
import scala.collection.mutable.ArrayBuffer

/** One sorted run of (key, value) records plus a sidecar meta file with
  * the segment's key range and row count — the "region" analog of the
  * reference's storage layer (partition = key range, reference
  * HBasePartition.scala:26-38). Record layout:
  * `[4B keyLen][key][4B valLen][value]`, keys in unsigned-lexicographic
  * order (which RowCodec makes equal to composite value order).
  */
object SegmentFile {

  /** Optional block compression of the segment DATA file (the sidecar's
    * planning fields stay uncompressed — planning reads them with tiny
    * point reads; only its sketch tail is one zstd frame, see
    * [[writeSketchFrame]]).
    * At warehouse scale the scan cost of a text-heavy table is IO; the
    * parquet side of every pipeline is compressed and the kv side
    * should not give that back. Design constraints, in order:
    *
    *  - the file is SELF-DESCRIBING: it opens with a magic int that can
    *    never be a record's key length (key lengths are positive; the
    *    magic is negative), followed by one codec byte, then a stream of
    *    self-delimiting frames `[4B rawLen][4B compLen][compLen bytes]`.
    *    No sidecar format change, no version gate: a reader that has
    *    never heard of compression sees a negative "key length" on the
    *    FIRST read and fails loudly at open, not mid-file;
    *  - all offsets stay LOGICAL (positions in the uncompressed record
    *    stream): the sparse index, floorOffset, and the reader's
    *    `skipForwardTo` are byte-compatible with uncompressed segments,
    *    so every seek/prune path above this layer is codec-oblivious;
    *  - seeks stay cheap WITHOUT an extra block index: frames are
    *    self-delimiting, so a forward skip reads each intervening
    *    frame's 8-byte header and skips its compressed body physically —
    *    never decompressing anything but the landing block;
    *  - codecs are the two already on every Spark classpath (lz4-java,
    *    zstd-jni). zstd is the density choice, lz4 the speed choice.
    *
    * The per-table `segment.compress` property (none | lz4 | zstd)
    * selects the codec at write time; reads auto-detect per segment, so
    * a table may freely mix codecs across its history (compaction
    * rewrites into whatever the property says NOW). */
  object Compression {
    val None = "none"
    val Lz4 = "lz4"
    val Zstd = "zstd"
    val Names: Seq[String] = Seq(None, Lz4, Zstd)

    /** Negative (a key length never is), and not a sidecar format tag. */
    val Magic: Int = 0xCAFEC0DE // == -889929506

    /** Target UNCOMPRESSED frame size: big enough to give the codec
      * context, small enough that a point lookup decompresses little. */
    val BlockBytes: Int = 1 << 16

    def codecId(name: String): Byte = name match {
      case Lz4 => 1; case Zstd => 2
      case other => throw new IllegalArgumentException(
        s"unknown segment.compress codec '$other' (lz4 | zstd | none)")
    }

    private lazy val lz4 = net.jpountz.lz4.LZ4Factory.fastestInstance()

    def compress(id: Byte, data: Array[Byte], len: Int): Array[Byte] = {
      val exact =
        if (len == data.length) data else java.util.Arrays.copyOf(data, len)
      id match {
        case 1 => lz4.fastCompressor().compress(exact)
        case 2 => com.github.luben.zstd.Zstd.compress(exact, 3)
        case other =>
          throw new IllegalArgumentException(s"unknown codec id $other")
      }
    }

    def decompress(id: Byte, comp: Array[Byte], rawLen: Int): Array[Byte] =
      id match {
        case 1 =>
          val out = new Array[Byte](rawLen)
          lz4.fastDecompressor().decompress(comp, 0, out, 0, rawLen)
          out
        case 2 =>
          val out = com.github.luben.zstd.Zstd.decompress(comp, rawLen)
          require(out.length == rawLen,
            s"zstd frame decompressed to ${out.length}, expected $rawLen")
          out
        case other =>
          throw new IllegalArgumentException(s"unknown codec id $other")
      }

    /** Frame-decompressing InputStream over the raw file stream
      * (positioned just past the magic + codec byte). Logical position
      * = bytes of the uncompressed record stream served or skipped.
      * `skip` crosses whole frames by reading only their 8-byte headers
      * and physically skipping the compressed body — the landing frame
      * is the only one ever decompressed. */
    final class BlockInput(raw: java.io.InputStream, id: Byte)
        extends java.io.InputStream {
      private var buf: Array[Byte] = Array.emptyByteArray
      private var pos = 0
      private var limit = 0
      private var atEof = false
      private val hdr = new Array[Byte](8)

      /** false at a clean EOF on a frame boundary. */
      private def readHeader(): Boolean = {
        if (atEof) return false
        var n = 0
        while (n < 8) {
          val r = raw.read(hdr, n, 8 - n)
          if (r < 0) {
            atEof = true
            if (n == 0) return false
            throw new EOFException("truncated compressed-frame header")
          }
          n += r
        }
        true
      }
      private def hdrRawLen: Int =
        ((hdr(0) & 0xff) << 24) | ((hdr(1) & 0xff) << 16) |
          ((hdr(2) & 0xff) << 8) | (hdr(3) & 0xff)
      private def hdrCompLen: Int =
        ((hdr(4) & 0xff) << 24) | ((hdr(5) & 0xff) << 16) |
          ((hdr(6) & 0xff) << 8) | (hdr(7) & 0xff)

      private def readBody(): Array[Byte] = {
        val comp = new Array[Byte](hdrCompLen)
        var n = 0
        while (n < comp.length) {
          val r = raw.read(comp, n, comp.length - n)
          if (r < 0) throw new EOFException("truncated compressed frame")
          n += r
        }
        comp
      }

      private def nextBlock(): Boolean = readHeader() && {
        val rawLen = hdrRawLen
        buf = decompress(id, readBody(), rawLen)
        pos = 0; limit = rawLen
        true
      }

      override def read(): Int = {
        while (pos >= limit) if (!nextBlock()) return -1
        val b = buf(pos) & 0xff; pos += 1; b
      }

      override def read(b: Array[Byte], off: Int, len: Int): Int = {
        if (len == 0) return 0
        while (pos >= limit) if (!nextBlock()) return -1
        val n = math.min(len, limit - pos)
        System.arraycopy(buf, pos, b, off, n)
        pos += n
        n
      }

      override def skip(n: Long): Long = {
        var rem = n
        while (rem > 0) {
          if (pos < limit) {
            val s = math.min(rem, (limit - pos).toLong).toInt
            pos += s; rem -= s
          } else if (!readHeader()) {
            return n - rem
          } else {
            val rawLen = hdrRawLen
            if (rem >= rawLen) { // frame-jump: never decompressed
              raw.skipNBytes(hdrCompLen)
              rem -= rawLen
            } else {
              buf = decompress(id, readBody(), rawLen)
              pos = 0; limit = rawLen
            }
          }
        }
        n
      }

      override def close(): Unit = raw.close()
    }
  }

  /** Sidecar metadata: key range, count, size, per-dimension Bloom
    * filters over non-leading key columns (prunes segments for point
    * filters that don't constrain the leading key — the range metadata
    * can't help there), and a sparse index of (key, byteOffset) every
    * `indexEvery` records — the binary-searchable entry points a point
    * lookup seeks to instead of scanning from the segment head
    * (reference point-get batching / seek hints,
    * HBaseSQLReaderRDD.scala:268-315, HBaseCustomFilter seek logic). */
  final case class Meta(file: String, minKey: Array[Byte], maxKey: Array[Byte],
      count: Long, sizeBytes: Long,
      blooms: IndexedSeq[Bloom] = IndexedSeq.empty,
      index: IndexedSeq[(Array[Byte], Long)] = IndexedSeq.empty,
      schemaJson: Option[String] = None,
      zoneStats: Seq[ZoneStat] = Seq.empty,
      gen: Long = 0L,
      tombstones: Long = 0L,
      exactZones: Boolean = false,
      // exact per-value-column null counts (V10; empty = pre-V10 writer,
      // no claim). Keys are never null by the codec contract.
      nullCounts: Seq[(String, Long)] = Seq.empty)

  /** Tiny blocked Bloom filter: 4096 bits, two probes per value, keyed
    * by the 64-bit hash of the encoded field bytes. ~0.5 KB per tracked
    * dimension per segment; false positives only cost an unpruned scan.
    * An EMPTY words array is the explicit no-claim marker (a saturated
    * filter — see Builder.result — prunes nothing and is not worth
    * storing): mightContain answers true for everything. */
  final case class Bloom(words: Array[Long]) {
    def mightContain(h: Long): Boolean = words.isEmpty || {
      val (b1, b2) = Bloom.bitPositions(h, words.length)
      ((words(b1 / 64) >>> (b1 % 64)) & 1L) == 1L &&
        ((words(b2 / 64) >>> (b2 % 64)) & 1L) == 1L
    }
  }
  object Bloom {
    val DefaultWords = 64 // 4096 bits

    /** The one definition of both probe positions — add and mightContain
      * must stay bit-symmetric or pruning silently drops rows. */
    def bitPositions(h: Long, nWords: Int): (Int, Int) = {
      val nBits = nWords * 64
      (((h & 0x7fffffff) % nBits).toInt, (((h >>> 32) & 0x7fffffff) % nBits).toInt)
    }

    final class Builder(nWords: Int = DefaultWords) {
      private val words = new Array[Long](nWords)
      def add(h: Long): Unit = {
        val (b1, b2) = bitPositions(h, nWords)
        words(b1 / 64) |= 1L << (b1 % 64)
        words(b2 / 64) |= 1L << (b2 % 64)
      }

      /** A 256 MB segment can hold ~10⁶ DISTINCT values — far beyond
        * what 4096 bits can discriminate (load factor ≥ ~50 % drives
        * the false-positive rate toward 1, two probes or not). When the
        * SET-BIT count (the true load — repeated values share bits)
        * crosses half the filter, emit the explicit no-claim marker
        * instead of half a KB of near-all-ones bits in every sidecar
        * AND the packed planning stats. Probing a no-claim bloom
        * answers true, so pruning stays sound — it just doesn't fire,
        * exactly as the saturated filter wouldn't. */
      def result(): Bloom = {
        var set = 0L
        var i = 0
        while (i < nWords) { set += java.lang.Long.bitCount(words(i)); i += 1 }
        if (set > nWords.toLong * 32) Bloom(Array.empty) else Bloom(words)
      }
    }

    def hashBytes(b: Array[Byte]): Long =
      org.apache.spark.sql.catalyst.expressions.XXH64
        .hashUnsafeBytes(b, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET,
          b.length, 911L)
  }

  /** Sidecar format markers (legacy files start with a positive min-key
    * length). V3 adds the writer's schema json — segments are
    * self-describing, so ALTER TABLE on a populated table is
    * metadata-only: old segments decode with their own layout. V4 adds
    * VALUE-column zone maps (per-segment min/max of numeric non-key
    * columns, the parquet row-group-stats analog): residual filters can
    * prune whole segments when values correlate with key order, and the
    * prune is conservative — a segment is dropped only when the whole
    * predicate is provably false over the recorded ranges. */
  private val FormatV2 = -2
  private val FormatV3 = -3
  private val FormatV4 = -4
  // V5 adds the segment's commit GENERATION — a per-table monotonically
  // increasing write counter (the HBase cell-timestamp analog). When two
  // live segments contain the same composite key, the record from the
  // higher generation is the row's current version (last-write-wins /
  // Put-upsert semantics); pre-V5 segments read as generation 0.
  private val FormatV5 = -5
  // V6 adds the segment's TOMBSTONE count. A tombstone record (value
  // length -1 in the data file, the HBase Delete-marker analog) deletes
  // its key: readers skip it, the generation merge suppresses older
  // versions beneath it, and compaction drops both. The count lets
  // planning refuse metadata-only aggregates over tombstoned tables
  // without opening data files.
  private val FormatV6 = -6
  // V7 adds an optional per-zone-entry COLUMN SUM (integral types only,
  // exact Long arithmetic — the writer drops the claim on overflow), so
  // SUM aggregates join COUNT/MIN/MAX on the metadata-only path (the
  // reference coprocessor's partial-sum analog). Pre-V7 entries read
  // with no sum claim.
  private val FormatV7 = -7
  // V8 marks the zone min/max/null claims as EXACT over the segment's
  // physical rows: the writer folds only dup-group WINNERS (which are
  // what it physically writes), where pre-V8 writers folded superseded
  // buffer rows too and could publish widened bounds. Same byte layout
  // as V7 — the version is the semantic marker (Meta.exactZones) that
  // lets MIN/MAX of value columns join COUNT/SUM on the metadata-only
  // aggregate path; pre-V8 sidecars stay pruning-sound but never
  // answer a MIN/MAX from metadata.
  private val FormatV8 = -8
  // V9 appends per-column NDV SKETCHES (HyperLogLog++ register words,
  // built with Spark's own HyperLogLogPlusPlusHelper at the default
  // rsd) after the zone maps: register merge is an elementwise max —
  // associative and commutative — so the union of per-segment sketches
  // over a key-disjoint table is REGISTER-IDENTICAL to the single-pass
  // sketch a scan would build, and approx_count_distinct can answer
  // from metadata with the exact same estimate (KvNdvRule). Winners-
  // only folding (like V8 zones) keeps each sketch exact over the
  // segment's physical rows. planning readMeta skips the section.
  private val FormatV9 = -9
  // V10 adds exact per-VALUE-column NULL COUNTS (winners-only, all
  // atomic columns — strings included, beyond the numeric zone maps)
  // between the zones and the NDV section: COUNT(col) joins the
  // metadata-only aggregate path as rows - nulls, and the CBO column
  // statistics gain nullCount. Unlike the zone maps (whose ENTRY
  // ABSENCE signals "saw a null"), the count is present for every
  // eligible column, zero or not.
  private val FormatV10 = -10
  // V11 appends per-column QUANTILE SKETCHES (the compressed
  // Greenwald-Khanna summaries of Spark's own QuantileSummaries, at
  // approx_percentile's default accuracy) after the NDV section:
  // GK summaries merge associatively within the same relative-error
  // bound, so the union of per-segment summaries over a key-disjoint
  // table answers whole-table approx_percentile from metadata
  // (KvPercentileRule) within the SAME ε-rank contract the scan-side
  // aggregate promises — and seeds CBO equi-height histograms for
  // range-selectivity estimation. Winners-only staging like V8-V10.
  // Planning readMeta stops before the section; the QS read path and
  // the index load step over it.
  //
  // "V12" (string zone maps) is TAG-versioned, not format-int-versioned:
  // zone entries carry a type tag, and the string tag (10) gates its own
  // layout (len-prefixed bytes + exactness flag), so files still open
  // with the V11 marker — older files simply never contain the tag.
  private val FormatV11 = -11
  // V13 (format int -13; -12 is skipped so the int never collides with
  // the tag-versioned "V12" string zones above): DECIMAL zone claims.
  // The decimal zone tags (11 narrow since round 9, 12 wide since
  // round 10) are self-describing for a CURRENT reader, but a
  // pre-decimal reader hitting an unknown tag would die mid-parse with
  // a NoSuchElementException instead of skipping — so the sidecar
  // header advances and such a reader rejects the file CLEANLY at
  // open. Current readers accept V9–V14 headers (round-9 files carry narrow
  // decimal tags under the -11 header; that ship has sailed and this
  // reader handles them).
  private val FormatV13 = -13
  // V14 writes the NDV and quantile-summary sections as ONE
  // length-prefixed zstd frame (see writeSketchFrame) — same per-sketch
  // wire formats inside. At ε = 1e-4 a GK summary keeps every value of
  // a segment under ~5k rows, so the uncompressed V11 section stored
  // 24 B per row per numeric column and dominated the table's bytes;
  // the frame compresses it ~15-28×. Index loads skip the frame in
  // O(1). Pre-V14 sketch sections are not decoded: such a segment
  // reports no sketches (metadata answers fall back to the scan) and
  // reads without the sparse index.
  private val FormatV14 = -14

  /** One value-column zone entry: (column, type, min, max[, sum]) over
    * the segment's non-null values. Types are the fixed-width numerics
    * the 3-valued pruner can compare, plus (since V12) STRINGS in
    * UTF-8 byte order; `sum` is present only for integral columns
    * whose exact Long sum the writer tracked. `exact` is false when a
    * long string bound was TRUNCATED to its claim form (prefix lower
    * bound / incremented-prefix upper bound): still sound for pruning
    * — the claimed interval covers every value — but never served as a
    * metadata MIN/MAX answer (the claim may be a value the table does
    * not contain). Numeric bounds are always exact. */
  final case class ZoneStat(name: String, dataType: org.apache.spark.sql.types.DataType,
      min: Any, max: Any, sum: Option[Long] = None, exact: Boolean = true)

  /** UTF-8-byte-order-safe truncation claims for string zone bounds
    * (the Iceberg truncate-and-increment pattern): bounds cap at
    * `max` codepoints ([[MaxChars]] default; per-table override via
    * the `stringzone.maxchars` table property — long shared URL/path
    * prefixes need a deeper cap for useful bounds) so a pathological
    * long string can't bloat every sidecar and the planning pack. */
  private[graft] object StringZone {
    val MaxChars = 64

    /** Lower-bound claim ≤ value: a codepoint prefix (UTF-8 encodes
      * codepoints independently, so a codepoint prefix is a byte
      * prefix, and a byte prefix sorts ≤ the full string). */
    def lowerBound(s: String, max: Int = MaxChars): (String, Boolean) =
      if (s.codePointCount(0, s.length) <= max) (s, true)
      else (s.substring(0, s.offsetByCodePoints(0, max)), false)

    /** Upper-bound claim ≥ value: truncate to `max` codepoints,
      * then increment the last incrementable codepoint and drop the
      * rest (UTF-8 preserves codepoint order, so the incremented
      * prefix sorts above every string sharing the original prefix).
      * None when nothing is incrementable (all U+10FFFF). */
    def upperBound(s: String, max: Int = MaxChars): Option[(String, Boolean)] = {
      if (s.codePointCount(0, s.length) <= max) return Some((s, true))
      val cut = s.substring(0, s.offsetByCodePoints(0, max))
      val cps = cut.codePoints().toArray
      var i = cps.length - 1
      while (i >= 0) {
        val next = nextCodePoint(cps(i))
        if (next >= 0)
          return Some((new String(cps, 0, i) +
            new String(Character.toChars(next)), false))
        i -= 1
      }
      None
    }

    private def nextCodePoint(cp: Int): Int = {
      var n = cp + 1
      if (n >= 0xD800 && n <= 0xDFFF) n = 0xE000 // skip surrogate range
      if (n > 0x10FFFF) -1 else n
    }
  }

  /** One column's HLL++ register words over a segment's physical rows
    * (V9 sidecar). `words` is the aggregate buffer of Spark's
    * HyperLogLogPlusPlusHelper at [[NdvRsd]] — mergeable by elementwise
    * max, queryable for the same estimate a scan-side
    * approx_count_distinct would produce. */
  final case class NdvSketch(name: String, words: Array[Long])

  /** The rsd every writer sketches at — Spark's approx_count_distinct
    * default, so the common query form answers from metadata. */
  val NdvRsd: Double = 0.05

  /** One column's compressed Greenwald-Khanna quantile summary over a
    * segment's physical non-null rows (V11 sidecar) — the serialized
    * state of Spark's [[org.apache.spark.sql.catalyst.util.QuantileSummaries]]
    * at [[QsRelativeError]]. Values are stored as doubles exactly the
    * way ApproximatePercentile converts its input (integral → toDouble,
    * date → days, timestamp → micros), so a merged answer converts back
    * bit-compatibly. Parallel arrays hold the (value, g, delta)
    * triples of the compressed sample. */
  final case class QuantileSketch(name: String, relativeError: Double,
      count: Long, values: Array[Double], gs: Array[Long],
      deltas: Array[Long]) {
    def toSummaries: org.apache.spark.sql.catalyst.util.QuantileSummaries = {
      val stats = Array.tabulate(values.length)(i =>
        new org.apache.spark.sql.catalyst.util.QuantileSummaries.Stats(
          values(i), gs(i), deltas(i)))
      new org.apache.spark.sql.catalyst.util.QuantileSummaries(
        org.apache.spark.sql.catalyst.util.QuantileSummaries
          .defaultCompressThreshold,
        relativeError, stats, count, true)
    }
  }

  object QuantileSketch {
    def fromSummaries(name: String,
        s: org.apache.spark.sql.catalyst.util.QuantileSummaries): QuantileSketch = {
      val c = s.compress()
      QuantileSketch(name, c.relativeError, c.count,
        c.sampled.map(_.value), c.sampled.map(_.g), c.sampled.map(_.delta))
    }
  }

  /** The relative error every writer's quantile summaries carry —
    * approx_percentile's DEFAULT accuracy (1/10000), so the common query
    * form answers from metadata within its own promised bound. */
  val QsRelativeError: Double =
    1.0 / org.apache.spark.sql.catalyst.expressions.aggregate
      .ApproximatePercentile.DEFAULT_PERCENTILE_ACCURACY

  private val zoneTags: Seq[(Byte, org.apache.spark.sql.types.DataType)] = {
    import org.apache.spark.sql.types._
    Seq[(Byte, DataType)](1.toByte -> LongType, 2.toByte -> IntegerType,
      3.toByte -> ShortType, 4.toByte -> ByteType, 5.toByte -> DoubleType,
      6.toByte -> FloatType, 7.toByte -> TimestampType,
      8.toByte -> TimestampNTZType, 9.toByte -> DateType,
      // V12: string zones in UTF-8 byte order (len-prefixed bytes +
      // a per-entry exactness flag for truncated claims). Pre-V12
      // sidecars simply lack the tag — nothing to version-gate.
      10.toByte -> StringType)
  }
  private val tagOf = zoneTags.map(_.swap).toMap
  private val typeOf = zoneTags.toMap
  // V13: NARROW DECIMAL zones (precision ≤ 18 — unscaled value fits a
  // long, 8-byte entries). V14 (round 10): WIDE DECIMAL zones (p > 18,
  // 16-byte sign-extended two's-complement unscaled entries) — min/max
  // claims only; SUM stays refused for wide columns (the writer's
  // exact-Long accumulator can't carry them, and a silently wrapped
  // 128-bit sum would be a WRONG claim, not a missing one). Both tags
  // are parameterized: the entry writes (precision, scale) after the
  // tag byte, so the layout is self-describing to current readers; the
  // sidecar header advance to FormatV13 makes pre-decimal readers
  // reject cleanly instead of dying on the unknown tag.
  private val DecimalTag: Byte = 11
  private val WideDecimalTag: Byte = 12

  private def zoneTag(dt: org.apache.spark.sql.types.DataType): Byte =
    dt match {
      case d: org.apache.spark.sql.types.DecimalType =>
        if (d.precision <= 18) DecimalTag else WideDecimalTag
      case other => tagOf(other)
    }

  private def writeZoneTag(out: DataOutputStream,
      dt: org.apache.spark.sql.types.DataType): Unit = {
    out.writeByte(zoneTag(dt).toInt)
    dt match {
      case d: org.apache.spark.sql.types.DecimalType =>
        out.writeByte(d.precision); out.writeByte(d.scale)
      case _ => ()
    }
  }

  private def readZoneTag(in: DataInputStream): org.apache.spark.sql.types.DataType = {
    val tag = in.readByte()
    if (tag == DecimalTag || tag == WideDecimalTag)
      org.apache.spark.sql.types.DecimalType(in.readByte(), in.readByte())
    else typeOf(tag)
  }

  /** Can this value column carry a zone map? Every decimal width since
    * V14 — wide columns get min/max (pruning + metadata MIN/MAX), just
    * never SUM. */
  def zoneMappable(dt: org.apache.spark.sql.types.DataType): Boolean =
    dt match {
      case _: org.apache.spark.sql.types.DecimalType => true
      case other => tagOf.contains(other)
    }

  /** Can this column carry a V11 quantile summary? The zone-mappable
    * NUMERICS (summaries ingest doubles) — strings zone-map since V12
    * but have no quantile form. NARROW decimals (p ≤ 18) sketch since
    * round 10 by ingesting the UNSCALED long, which is exact in the
    * value domain wherever it fits a double's 53-bit mantissa — the
    * writer checks per value and drops the whole segment's claim on
    * the first unscaled value beyond 2^53 (claim-or-nothing), so a
    * money column's metadata percentile is never a value the column
    * couldn't contain. (The earlier wholesale refusal guarded against
    * ApproximatePercentile's SCALED double conversion, which is
    * inexact already at cents precision.) */
  def quantileSketchable(dt: org.apache.spark.sql.types.DataType): Boolean =
    dt match {
      case d: org.apache.spark.sql.types.DecimalType => d.precision <= 18
      case other =>
        zoneMappable(other) && other != org.apache.spark.sql.types.StringType
    }

  private def writeZoneValue(out: DataOutputStream,
      dt: org.apache.spark.sql.types.DataType, v: Any): Unit = {
    import org.apache.spark.sql.types._
    dt match {
      case LongType | TimestampType | TimestampNTZType =>
        out.writeLong(v.asInstanceOf[Long])
      case IntegerType | DateType => out.writeInt(v.asInstanceOf[Int])
      case ShortType => out.writeShort(v.asInstanceOf[Short].toInt)
      case ByteType => out.writeByte(v.asInstanceOf[Byte].toInt)
      case DoubleType => out.writeDouble(v.asInstanceOf[Double])
      case FloatType => out.writeFloat(v.asInstanceOf[Float])
      case _: StringType =>
        val b = v.asInstanceOf[String]
          .getBytes(java.nio.charset.StandardCharsets.UTF_8)
        out.writeInt(b.length); out.write(b)
      case d: DecimalType =>
        if (d.precision <= 18) out.writeLong(v.asInstanceOf[Decimal].toUnscaledLong)
        else {
          // 16-byte sign-extended two's complement, big-endian (the
          // value domain does the comparing — no order-preserving flip
          // needed here, unlike the key codec)
          val bi = v.asInstanceOf[Decimal].toJavaBigDecimal.unscaledValue()
          val buf = new Array[Byte](16)
          if (bi.signum() < 0) java.util.Arrays.fill(buf, 0xff.toByte)
          val tb = bi.toByteArray
          System.arraycopy(tb, 0, buf, 16 - tb.length, tb.length)
          out.write(buf)
        }
      case other => throw new IllegalArgumentException(s"no zone map for $other")
    }
  }

  private def readZoneValue(in: DataInputStream,
      dt: org.apache.spark.sql.types.DataType): Any = {
    import org.apache.spark.sql.types._
    dt match {
      case LongType | TimestampType | TimestampNTZType => in.readLong()
      case IntegerType | DateType => in.readInt()
      case ShortType => in.readShort()
      case ByteType => in.readByte()
      case DoubleType => in.readDouble()
      case FloatType => in.readFloat()
      case _: StringType =>
        val b = new Array[Byte](in.readInt()); in.readFully(b)
        new String(b, java.nio.charset.StandardCharsets.UTF_8)
      case d: DecimalType =>
        if (d.precision <= 18)
          Decimal.createUnsafe(in.readLong(), d.precision, d.scale)
        else {
          val buf = new Array[Byte](16); in.readFully(buf)
          Decimal(new java.math.BigDecimal(
            new java.math.BigInteger(buf), d.scale), d.precision, d.scale)
        }
      case other => throw new IllegalArgumentException(s"no zone map for $other")
    }
  }

  /** The per-entry exactness flag rides only on STRING entries (the
    * tag gates the layout — numeric entries never wrote one and stay
    * byte-identical to pre-V12 files). */
  private def writeZoneExact(out: DataOutputStream,
      dt: org.apache.spark.sql.types.DataType, exact: Boolean): Unit =
    if (dt == org.apache.spark.sql.types.StringType) out.writeBoolean(exact)
  private def readZoneExact(in: DataInputStream,
      dt: org.apache.spark.sql.types.DataType): Boolean =
    if (dt == org.apache.spark.sql.types.StringType) in.readBoolean() else true

  def segmentPath(dir: String, name: String): String =
    SidecarFs.child(dir, s"$name.kv")
  private def metaPath(dir: String, name: String): String =
    SidecarFs.child(dir, s"$name.kvmeta")

  /** Streaming writer; caller must feed records in key order under `cmp`
    * — unsigned byte order for the binary codec, the typed-comparator
    * order for stringformat tables (RowCodec.compareKeys); either way the
    * file's physical order is the composite VALUE order, which is what
    * makes min/max pruning and floor seeks sound. `nBlooms` is the number
    * of per-dimension Bloom filters the caller will feed via the
    * `bloomHashes` argument of write (one 64-bit hash per tracked
    * dimension per record). */
  final class Writer(dir: String, name: String, indexEvery: Int = 256,
      nBlooms: Int = 0,
      cmp: (Array[Byte], Array[Byte]) => Int = OrderedCodec.compare,
      schemaJson: String = null, gen: Long = 0L,
      compress: String = Compression.None) {
    private val seg = segmentPath(dir, name)
    private val out = new DataOutputStream(new BufferedOutputStream(
      SidecarFs.create(seg), 1 << 16))
    // block compression: records land in `rec` (a raw-block buffer when
    // compressing, the file stream otherwise); `bytes` and the sparse
    // index count LOGICAL stream positions either way, so every offset
    // consumer above this layer is codec-oblivious
    private val compId: Byte =
      if (compress == null || compress == Compression.None) 0
      else Compression.codecId(compress)
    private val blockBuf =
      if (compId == 0) null
      else new java.io.ByteArrayOutputStream(Compression.BlockBytes + 4096)
    private val rec: DataOutputStream =
      if (compId == 0) out else new DataOutputStream(blockBuf)
    if (compId != 0) { out.writeInt(Compression.Magic); out.writeByte(compId) }

    private def flushBlock(): Unit = if (blockBuf != null && blockBuf.size > 0) {
      val raw = blockBuf.toByteArray
      val comp = Compression.compress(compId, raw, raw.length)
      out.writeInt(raw.length); out.writeInt(comp.length); out.write(comp)
      blockBuf.reset()
    }
    private var minKey: Array[Byte] = _
    private var lastKey: Array[Byte] = _
    private var count = 0L
    private var tombstoneCount = 0L
    private var bytes = 0L
    private val index = IndexedSeq.newBuilder[(Array[Byte], Long)]
    private val bloomBuilders = Array.fill(nBlooms)(new Bloom.Builder())

    /** Bytes written so far (segment-rotation decisions). */
    def bytesWritten: Long = bytes

    /** Append a record; `value = null` writes a TOMBSTONE (value length
      * -1): the key is deleted as of this segment's generation. */
    def write(key: Array[Byte], value: Array[Byte],
        bloomHashes: Array[Long] = null): Unit = {
      if (minKey == null) minKey = key
      else require(cmp(lastKey, key) <= 0,
        s"segment $name: keys out of order")
      lastKey = key
      if (count > 0 && count % indexEvery == 0) index += ((key, bytes))
      if (bloomHashes != null) {
        var i = 0
        while (i < nBlooms) { bloomBuilders(i).add(bloomHashes(i)); i += 1 }
      }
      rec.writeInt(key.length); rec.write(key)
      if (value == null) {
        rec.writeInt(-1)
        tombstoneCount += 1
        bytes += 8L + key.length
      } else {
        rec.writeInt(value.length); rec.write(value)
        bytes += 8L + key.length + value.length
      }
      count += 1
      if (blockBuf != null && blockBuf.size >= Compression.BlockBytes)
        flushBlock()
    }

    /** Close and persist the sidecar meta; returns the meta (null keys if
      * the segment is empty — caller should drop such segments).
      * `zoneStats` are the caller-tracked value-column min/max for THIS
      * segment (the writer is codec-agnostic and never decodes values). */
    def close(zoneStats: Seq[ZoneStat] = Seq.empty,
        ndvSketches: Seq[NdvSketch] = Seq.empty,
        nullCounts: Seq[(String, Long)] = Seq.empty,
        qsSketches: Seq[QuantileSketch] = Seq.empty): Meta = {
      if (blockBuf != null) { rec.flush(); flushBlock() }
      out.flush(); out.close()
      if (count == 0) { SidecarFs.deleteIfExists(seg); return null }
      val m = Meta(s"$name.kv", minKey, lastKey, count, SidecarFs.size(seg),
        bloomBuilders.map(_.result()).toIndexedSeq, index.result(),
        Option(schemaJson), zoneStats.filter(z => zoneMappable(z.dataType)),
        gen, tombstoneCount, exactZones = true, nullCounts = nullCounts)
      // guarded sidecar write: a mid-write failure (disk full) must not
      // leak the handle or leave a TORN .kvmeta beside a complete .kv —
      // on a legacy manifest-less table the .kvmeta files are the
      // listing authority, and one torn file bricks every later query
      val mo = new DataOutputStream(new BufferedOutputStream(
        SidecarFs.create(metaPath(dir, name)), 1 << 16))
      def writeSidecar(): Unit = {
      mo.writeInt(FormatV14)
      mo.writeLong(m.gen)
      mo.writeLong(m.tombstones)
      m.schemaJson match {
        case Some(js) =>
          val b = js.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          mo.writeInt(b.length); mo.write(b)
        case None => mo.writeInt(-1)
      }
      mo.writeInt(m.minKey.length); mo.write(m.minKey)
      mo.writeInt(m.maxKey.length); mo.write(m.maxKey)
      mo.writeLong(m.count); mo.writeLong(m.sizeBytes)
      mo.writeInt(m.blooms.length)
      m.blooms.foreach { bl =>
        mo.writeInt(bl.words.length)
        bl.words.foreach(mo.writeLong)
      }
      // zone maps BEFORE the index: planning reads stats with
      // withIndex=false and must not deserialize the index to get them
      mo.writeInt(m.zoneStats.length)
      m.zoneStats.foreach { z =>
        val nb = z.name.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        mo.writeInt(nb.length); mo.write(nb)
        writeZoneTag(mo, z.dataType)
        writeZoneValue(mo, z.dataType, z.min)
        writeZoneValue(mo, z.dataType, z.max)
        writeZoneExact(mo, z.dataType, z.exact)
        mo.writeBoolean(z.sum.isDefined)
        z.sum.foreach(mo.writeLong)
      }
      // null counts (V10) ride between the zones and the NDV section —
      // planning reads them (claims, not register payloads)
      mo.writeInt(m.nullCounts.length)
      m.nullCounts.foreach { case (n, c) =>
        val nb = n.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        mo.writeInt(nb.length); mo.write(nb)
        mo.writeLong(c)
      }
      // the sketch tail (V14): NDV registers, then quantile summaries,
      // in one zstd frame. Planning reads stop before it, the index load
      // skips it whole, and only the sketch read paths decompress it
      writeSketchFrame(mo) { f =>
        writeNdvSection(f, ndvSketches); writeQsSection(f, qsSketches)
      }
      mo.writeInt(m.index.length)
      m.index.foreach { case (k, off) =>
        mo.writeInt(k.length); mo.write(k); mo.writeLong(off)
      }
      } // writeSidecar
      try writeSidecar()
      catch {
        case e: Throwable =>
          try mo.close() catch { case _: Exception => () }
          SidecarFs.deleteIfExists(metaPath(dir, name))
          throw e
      }
      mo.close()
      m
    }
  }

  /** Read a sidecar. `withIndex = false` skips deserializing the sparse
    * index — planning (pruning/statistics) only needs min/max/count, and
    * eagerly materializing O(rows/256) index entries for every segment on
    * every query plan would not scale; only a partition reader seeking
    * into its one segment pays for the index. */
  def readMeta(dir: String, name: String, withIndex: Boolean = true): Meta = {
    // count PLANNING opens only (withIndex=false): a partition reader's
    // own index load (withIndex=true, one per task, executor-side) is
    // per-partition work that scales correctly; the planning contract
    // (PlanningStatsSpec) is that the driver never opens per-segment
    // sidecars just to plan
    if (!withIndex) metaOpens.incrementAndGet()
    val in = new DataInputStream(new BufferedInputStream(
      SidecarFs.open(metaPath(dir, name)), 1 << 16))
    try {
      val first = in.readInt()
      val v14 = first == FormatV14
      val v13 = v14 || first == FormatV13
      val v11 = v13 || first == FormatV11
      val v10 = v11 || first == FormatV10
      val v9 = v10 || first == FormatV9
      val v8 = v9 || first == FormatV8
      val v7 = v8 || first == FormatV7
      val v6 = v7 || first == FormatV6
      val v5 = v6 || first == FormatV5
      val gen = if (v5) in.readLong() else 0L
      val tombstones = if (v6) in.readLong() else 0L
      val v4 = v5 || first == FormatV4
      val v3 = v4 || first == FormatV3
      val v2plus = v3 || first == FormatV2
      val schemaJson =
        if (!v3) None
        else in.readInt() match {
          case -1 => None
          case n =>
            val b = new Array[Byte](n); in.readFully(b)
            Some(new String(b, java.nio.charset.StandardCharsets.UTF_8))
        }
      val minLen = if (v2plus) in.readInt() else first // legacy: first int IS minLen
      val min = new Array[Byte](minLen); in.readFully(min)
      val max = new Array[Byte](in.readInt()); in.readFully(max)
      val count = in.readLong(); val size = in.readLong()
      val blooms =
        if (!v2plus) IndexedSeq.empty
        else (0 until in.readInt()).map { _ =>
          val words = new Array[Long](in.readInt())
          var i = 0
          while (i < words.length) { words(i) = in.readLong(); i += 1 }
          Bloom(words)
        }
      val stats =
        if (!v4) Seq.empty[ZoneStat]
        else (0 until in.readInt()).map { _ =>
          val nb = new Array[Byte](in.readInt()); in.readFully(nb)
          val dt = readZoneTag(in)
          val (mn, mx) = (readZoneValue(in, dt), readZoneValue(in, dt))
          val exact = readZoneExact(in, dt)
          val sum =
            if (v7 && in.readBoolean()) Some(in.readLong()) else None
          ZoneStat(new String(nb, java.nio.charset.StandardCharsets.UTF_8),
            dt, mn, mx, sum, exact)
        }
      val nullCnts =
        if (!v10) Seq.empty[(String, Long)]
        else (0 until in.readInt()).map { _ =>
          val nb = new Array[Byte](in.readInt()); in.readFully(nb)
          (new String(nb, java.nio.charset.StandardCharsets.UTF_8),
            in.readLong())
        }
      // sparse index, behind the sketch frame (pre-V14 sidecars are
      // not stepped through → seekless reads)
      val idx = if (!withIndex || !v14) IndexedSeq.empty else try {
        skipSketchFrame(in)
        val n = in.readInt()
        (0 until n).map { _ =>
          val k = new Array[Byte](in.readInt()); in.readFully(k)
          (k, in.readLong())
        }
      } catch { case _: EOFException => IndexedSeq.empty }
      Meta(s"$name.kv", min, max, count, size, blooms, idx, schemaJson, stats,
        gen, tombstones, exactZones = v8, nullCounts = nullCnts)
    } finally in.close()
  }

  // ── live-segment manifest ──────────────────────────────────────────────
  // Commits and compactions record the LIVE segment set in a versioned
  // manifest log (`_graft_segments.vN`). The AUTHORITY is the highest
  // retained version; version N+1 is published with CREATE-IF-ABSENT
  // semantics (hard link — atomic fail-if-exists on POSIX), so a
  // read-modify-write commit is an optimistic CAS: two concurrent
  // committers can both read version N, but only one can create N+1 —
  // the loser re-reads and re-applies, and neither can ever silently
  // drop the other's committed segments. A multi-step rewrite (write
  // replacement segments, THEN publish, THEN delete originals) stays
  // crash-safe: a reader always sees a committed set, and files a
  // crash orphaned between steps are simply never listed. Tables
  // written before manifests existed have none — directory listing
  // remains the authority there (the write paths start a manifest on
  // their next commit). Concurrent readers are always safe —
  // compaction keeps replaced segments on disk for a retention window
  // (KvCommands.sweepUnmanifested), so scans planned against an older
  // version finish against their own snapshot.

  private def manifestPath(dir: String): String =
    SidecarFs.child(dir, "_graft_segments")

  private def readMirror(dir: String): Option[Set[String]] = {
    val p = manifestPath(dir)
    if (!SidecarFs.exists(p)) None
    else try Some(SidecarFs.readString(p).linesIterator.map(_.trim)
      .filter(_.nonEmpty).toSet)
    catch { case _: java.io.FileNotFoundException => None }
  }

  /** Live `.kv` file names, when a manifest governs this table: the
    * content of the highest retained snapshot version. The un-numbered
    * `_graft_segments` mirror is informational (and the upgrade path
    * for tables written before the versioned log existed) — it is read
    * only when no version exists. */
  def readManifest(dir: String): Option[Set[String]] = {
    var attempts = 0
    while (attempts < 64) {
      currentVersion(dir) match {
        case None => return readMirror(dir)
        case Some(v) => readManifestVersion(dir, v) match {
          case s @ Some(_) => return s
          // version pruned between the probe and the read (a sweep or
          // drop raced us) — re-probe
          case None => attempts += 1
        }
      }
    }
    throw new IllegalStateException(s"cannot read a stable manifest at $dir")
  }

  /** Optimistic-CAS manifest commit: read the current committed set,
    * apply `transform`, publish the result as snapshot version N+1 with
    * create-if-absent semantics, retrying the whole read-modify-write
    * on conflict. `transform` returning None aborts the commit (the
    * caller saw a base it cannot merge with — e.g. compaction whose
    * input segments were replaced by a concurrent maintainer); a
    * transform that leaves an already-versioned manifest unchanged is
    * a detected no-op (no duplicate snapshot version — an epoch replay
    * repairing an already-swapped commit publishes nothing). Returns
    * the live set as of this commit, or None on abort. `fallbackBase`
    * seeds the first version of a pre-manifest (legacy) table. */
  def commitManifest(dir: String)(
      transform: Set[String] => Option[Set[String]],
      fallbackBase: => Set[String] = Set.empty): Option[Set[String]] = {
    var attempts = 0
    while (attempts < 10000) {
      val versions = manifestVersions(dir)
      val baseOpt = versions.lastOption.flatMap(readManifestVersion(dir, _))
      if (versions.nonEmpty && baseOpt.isEmpty) {
        // max version pruned between listing and read — re-list
        attempts += 1
      } else {
        val base = baseOpt.orElse(readMirror(dir)).getOrElse(fallbackBase)
        transform(base) match {
          case None => return None
          case Some(next) =>
            if (next == base && versions.nonEmpty) return Some(next)
            val v = versions.lastOption.getOrElse(0L) + 1L
            if (tryPublishVersion(dir, v, next)) {
              versionHints.put(dirKey(dir), v)
              writeVersionHint(dir, v)
              // packed planning stats ride with the new version (see the
              // packed-stats section): previous pack + this commit's delta
              publishStats(dir, v, versions.lastOption, next)
              refreshMirror(dir)
              // bound the commit log: an append-only table (streaming
              // ingest) never compacts, so without a count cap it would
              // accumulate one snapshot per commit forever. Metadata-only:
              // expired versions just stop answering VERSION AS OF.
              versions.dropRight(MaxRetainedManifests - 1).foreach { old =>
                SidecarFs.deleteIfExists(versionedManifestPath(dir, old))
                SidecarFs.deleteIfExists(statsPath(dir, old))
                SidecarFs.deleteIfExists(ndvPath(dir, old))
                // quantile packs retire with their version too — the cap
                // used to skip them, orphaning _graft_qs.vN forever on
                // append-only (never-compacted) streaming tables
                SidecarFs.deleteIfExists(qsPath(dir, old))
              }
              return Some(next)
            }
            attempts += 1 // lost the CAS — re-read and re-apply
        }
      }
    }
    throw new IllegalStateException(
      s"manifest CAS at $dir still contended after $attempts attempts")
  }

  /** Publish `files` as snapshot `v` iff no committer beat us to `v`.
    * [[SidecarFs.createIfAbsent]] is the atomic create-if-absent
    * primitive on every backend — hard link / `CREATE_NEW` locally,
    * fully-written-temp + rename-if-absent on HDFS (rename would
    * silently replace a concurrent winner's snapshot; rename-if-absent
    * cannot). */
  private def tryPublishVersion(dir: String, v: Long,
      files: Set[String]): Boolean =
    SidecarFs.createIfAbsent(versionedManifestPath(dir, v),
      files.toSeq.sorted.mkString("\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))

  /** Best-effort refresh of the informational `_graft_segments` mirror
    * from the current max version. Two refreshes can interleave and
    * leave the mirror one commit behind — harmless: nothing reads it
    * while versions exist. */
  private def refreshMirror(dir: String): Unit =
    manifestVersions(dir).lastOption
      .flatMap(readManifestVersion(dir, _)).foreach { live =>
        // genuinely best-effort: the CAS already published the version
        // that IS the authority, so a mirror failure (disk full, odd
        // mount) must not fail — or re-run — the committed change
        try SidecarFs.writeStringAtomic(manifestPath(dir),
          live.toSeq.sorted.mkString("\n"))
        catch { case scala.util.control.NonFatal(_) => () }
      }

  /** Publish `files` as the new live set unconditionally (overwrite /
    * compaction-pin semantics — not a read-modify-write). Identical
    * content on an already-versioned table is a no-op. */
  def writeManifest(dir: String, files: Iterable[String]): Unit = {
    val set = files.toSet
    commitManifest(dir)(_ => Some(set))
    ()
  }

  /** Newest snapshot manifests kept regardless of age (the time-based
    * retention sweep prunes within this bound). */
  val MaxRetainedManifests = 64

  private def versionedManifestPath(dir: String, v: Long): String =
    SidecarFs.child(dir, s"_graft_segments.v$v")

  /** Retained snapshot versions, ascending (commit order). */
  def manifestVersions(dir: String): Seq[Long] =
    SidecarFs.list(dir).flatMap { n =>
      if (n.startsWith("_graft_segments.v"))
        n.stripPrefix("_graft_segments.v").toLongOption
      else None
    }.sorted

  /** The snapshot manifest's commit wall-clock (file mtime); 0 when the
    * version does not exist. */
  def manifestVersionMtime(dir: String, v: Long): Long =
    SidecarFs.mtime(versionedManifestPath(dir, v))

  def readManifestVersion(dir: String, v: Long): Option[Set[String]] = {
    val p = versionedManifestPath(dir, v)
    if (!SidecarFs.exists(p)) None
    else try Some(SidecarFs.readString(p).linesIterator.map(_.trim)
      .filter(_.nonEmpty).toSet)
    catch { case _: java.io.FileNotFoundException => None }
  }

  /** Delete snapshot manifests older than `cutoffMillis` (mtime), always
    * keeping the newest one (it mirrors the current manifest). */
  def pruneManifestVersions(dir: String, cutoffMillis: Long): Unit = {
    val vs = manifestVersions(dir)
    vs.dropRight(1).foreach { v =>
      val p = versionedManifestPath(dir, v)
      val mt = SidecarFs.mtime(p)
      if (mt > 0 && mt <= cutoffMillis) {
        SidecarFs.deleteIfExists(p)
        SidecarFs.deleteIfExists(statsPath(dir, v))
        SidecarFs.deleteIfExists(ndvPath(dir, v))
        SidecarFs.deleteIfExists(qsPath(dir, v))
      }
    }
  }

  // ── packed planning stats ──────────────────────────────────────────────
  // At 100 TB / 256 MB segments a table holds ~400k segments; planning
  // that opens one .kvmeta sidecar per segment per query would do ~400k
  // driver-side file opens PER PLAN (the reference amortizes the analogous
  // region listing behind a 600 s TTL cache, HBaseRelation.scala:202-239).
  // Instead, every manifest commit also writes `_graft_stats.vN`: ALL live
  // segments' planning stats (key bounds, Blooms, zone maps — everything
  // but the sparse index) in ONE packed file, built incrementally from the
  // previous version's pack plus the commit's delta. Planning then does
  // O(1) file reads per (table, manifest version): probe the current
  // version, read its pack, and cache the parsed result keyed on the
  // version file's identity — immutable once CAS-published, so the cache
  // never needs TTL-style invalidation and stays correct across OS
  // processes. Sidecars remain the per-segment authority (executors read
  // them for the seek index; the pack is a planning accelerator) and the
  // fallback when a pack is missing (legacy table, crashed committer):
  // one sidecar sweep, after which the read path backfills the pack.

  // V2 carries the optional per-zone-entry sums (sidecar V7); a V1 pack
  // simply reads as absent and the read path backfills the new version
  // from sidecars — packs are derived caches, never authorities.
  private val PackedStatsV2 = -101
  // V3 carries each entry's exactZones marker (sidecar V8). V2 packs
  // still read — their entries conservatively report exactZones=false,
  // so metadata MIN/MAX just stays off until the next commit repacks.
  private val PackedStatsV3 = -102
  // V4 carries the per-value-column null counts (sidecar V10). Older
  // packs read with no counts — COUNT(col) pushdown and nullCount
  // stats stay off until the next commit repacks.
  private val PackedStatsV4 = -103
  // V5 entries may carry STRING zone entries (tag 10, with a per-entry
  // exactness flag — sidecar V12). V4 packs predate string zones, so
  // they read unchanged; a V5 pack read by the V4 parser would
  // misalign, hence the bump.
  private val PackedStatsV5 = -104

  private def statsPath(dir: String, v: Long): String =
    SidecarFs.child(dir, s"_graft_stats.v$v")

  /** Planning-path sidecar opens, i.e. readMeta(withIndex=false) calls
    * (test instrumentation: planning must not scale its file opens with
    * segment count). */
  private[graft] val metaOpens = new java.util.concurrent.atomic.AtomicLong()

  private def writePackedEntry(out: DataOutputStream, m: Meta): Unit = {
    val nb = m.file.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    out.writeInt(nb.length); out.write(nb)
    out.writeBoolean(m.exactZones)
    out.writeLong(m.gen); out.writeLong(m.tombstones)
    m.schemaJson match {
      case Some(js) =>
        val b = js.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        out.writeInt(b.length); out.write(b)
      case None => out.writeInt(-1)
    }
    out.writeInt(m.minKey.length); out.write(m.minKey)
    out.writeInt(m.maxKey.length); out.write(m.maxKey)
    out.writeLong(m.count); out.writeLong(m.sizeBytes)
    out.writeInt(m.blooms.length)
    m.blooms.foreach { bl =>
      out.writeInt(bl.words.length); bl.words.foreach(out.writeLong)
    }
    out.writeInt(m.zoneStats.length)
    m.zoneStats.foreach { z =>
      val zb = z.name.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      out.writeInt(zb.length); out.write(zb)
      writeZoneTag(out, z.dataType)
      writeZoneValue(out, z.dataType, z.min)
      writeZoneValue(out, z.dataType, z.max)
      writeZoneExact(out, z.dataType, z.exact)
      out.writeBoolean(z.sum.isDefined)
      z.sum.foreach(out.writeLong)
    }
    out.writeInt(m.nullCounts.length)
    m.nullCounts.foreach { case (n, c) =>
      val nb = n.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      out.writeInt(nb.length); out.write(nb)
      out.writeLong(c)
    }
  }

  private def readPackedEntry(in: DataInputStream, v3: Boolean,
      v4: Boolean): Meta = {
    val nb = new Array[Byte](in.readInt()); in.readFully(nb)
    val file = new String(nb, java.nio.charset.StandardCharsets.UTF_8)
    val exactZones = if (v3) in.readBoolean() else false
    val gen = in.readLong(); val tombstones = in.readLong()
    val schemaJson = in.readInt() match {
      case -1 => None
      case n =>
        val b = new Array[Byte](n); in.readFully(b)
        Some(new String(b, java.nio.charset.StandardCharsets.UTF_8))
    }
    val min = new Array[Byte](in.readInt()); in.readFully(min)
    val max = new Array[Byte](in.readInt()); in.readFully(max)
    val count = in.readLong(); val size = in.readLong()
    val blooms = (0 until in.readInt()).map { _ =>
      val words = new Array[Long](in.readInt())
      var i = 0
      while (i < words.length) { words(i) = in.readLong(); i += 1 }
      Bloom(words)
    }
    val stats = (0 until in.readInt()).map { _ =>
      val zb = new Array[Byte](in.readInt()); in.readFully(zb)
      val dt = readZoneTag(in)
      val (mn, mx) = (readZoneValue(in, dt), readZoneValue(in, dt))
      val exact = readZoneExact(in, dt)
      val sum = if (in.readBoolean()) Some(in.readLong()) else None
      ZoneStat(new String(zb, java.nio.charset.StandardCharsets.UTF_8),
        dt, mn, mx, sum, exact)
    }
    val nullCnts =
      if (!v4) Seq.empty[(String, Long)]
      else (0 until in.readInt()).map { _ =>
        val nb = new Array[Byte](in.readInt()); in.readFully(nb)
        (new String(nb, java.nio.charset.StandardCharsets.UTF_8),
          in.readLong())
      }
    Meta(file, min, max, count, size, blooms, IndexedSeq.empty, schemaJson,
      stats, gen, tombstones, exactZones, nullCounts = nullCnts)
  }

  /** Write the packed planning stats for snapshot `v`. Only the CAS
    * winner for `v` (or a read-path backfill deriving identical content
    * from the same immutable inputs) writes it, so a plain atomic move
    * suffices — no second CAS. */
  private def writePackedStats(dir: String, v: Long, metas: Seq[Meta]): Unit = {
    val tmp = SidecarFs.child(dir,
      s"._graft_stats.tmp-${java.util.UUID.randomUUID().toString.take(8)}")
    val out = new DataOutputStream(new BufferedOutputStream(
      SidecarFs.create(tmp), 1 << 16))
    try {
      out.writeInt(PackedStatsV5)
      out.writeInt(metas.length)
      metas.foreach(writePackedEntry(out, _))
    } finally out.close()
    try SidecarFs.moveReplace(tmp, statsPath(dir, v))
    catch { case _: Exception => SidecarFs.deleteIfExists(tmp) }
  }

  /** Parse snapshot `v`'s packed stats; None when absent or torn
    * (callers fall back to per-sidecar reads). */
  private def readPackedStats(dir: String, v: Long): Option[Seq[Meta]] = {
    val p = statsPath(dir, v)
    if (!SidecarFs.exists(p)) return None
    try {
      val in = new DataInputStream(new BufferedInputStream(
        SidecarFs.open(p), 1 << 16))
      try {
        in.readInt() match {
          case v if v == PackedStatsV2 || v == PackedStatsV3 ||
              v == PackedStatsV4 || v == PackedStatsV5 =>
            Some((0 until in.readInt()).map(_ =>
              readPackedEntry(in, v3 = v != PackedStatsV2,
                v4 = v == PackedStatsV4 || v == PackedStatsV5)))
          case _ => None
        }
      } finally in.close()
    } catch { case _: Exception => None }
  }

  private def dirKey(dir: String): String = SidecarFs.qualified(dir)

  /** Last observed max version per table dir — the probe start. */
  private val versionHints =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  /** (dir, version, version-file identity) → parsed stats. The identity
    * string (inode/size/mtime via [[SidecarFs.identity]]) guards
    * against a dropped-and-recreated table reusing version numbers;
    * content for a given identity is immutable, so entries never go
    * stale. */
  private final case class StatsKey(dir: String, v: Long, identity: String)
  private val statsLock = new Object
  private val statsCache =
    new java.util.LinkedHashMap[StatsKey, Seq[Meta]](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[StatsKey, Seq[Meta]]): Boolean = size() > 32
    }

  /** Diagnostic hook (ColdPlanProbe): run the planning-stats lookup for
    * the current version exactly as a query plan would, returning the
    * live segment count. */
  private[graft] def planningStatsProbe(dir: String): Int =
    currentVersion(dir).flatMap(segmentsForVersion(dir, _))
      .map(_.length).getOrElse(-1)

  /** Test hook: drop every cached planning artifact (as a fresh driver
    * process would start). */
  private[graft] def clearPlanningCache(): Unit = {
    statsLock.synchronized(statsCache.clear())
    ndvPacks.clear()
    qsPacks.clear()
    versionHints.clear()
  }

  /** Durable twin of the in-memory `versionHints` map: the last
    * published manifest version, persisted so a FRESH PROCESS can find
    * the head without listing the table directory. Best-effort and
    * self-healing — stale-behind hints walk up the existence probe,
    * a hint for a dropped/recreated table fails the existence check
    * and falls back to the listing, and a torn/garbled file parses to
    * None. */
  private def versionHintPath(dir: String): String =
    SidecarFs.child(dir, "_graft_vhead")

  private def readVersionHint(dir: String): Option[Long] =
    try {
      val p = versionHintPath(dir)
      if (!SidecarFs.exists(p)) None
      else SidecarFs.readString(p).trim.toLongOption
    } catch { case _: Exception => None }

  private def writeVersionHint(dir: String, v: Long): Unit =
    try SidecarFs.writeStringAtomic(versionHintPath(dir), v.toString)
    catch { case scala.util.control.NonFatal(_) => () }

  /** The read path's hint write: only into a table directory that still
    * exists, so a reader racing DROP TABLE cannot recreate the dropped
    * directory (the commit path's writeVersionHint may create it). */
  private[store] def backfillVersionHint(dir: String, v: Long): Unit =
    try SidecarFs.writeStringAtomic(versionHintPath(dir), v.toString,
      createParent = false)
    catch { case scala.util.control.NonFatal(_) => () }

  /** Current max manifest version WITHOUT a directory listing in the
    * steady state: versions are contiguous upward and the max is never
    * pruned, so probing existence from the last observed version finds
    * the head in O(new commits) stat calls. A cold process reads the
    * durable `_graft_vhead` hint first (round 16: the listing fallback
    * stats EVERY file — measured 2.2–3.4 s of the plan100k_cold wall at
    * 200k segment files, tools/ColdPlanProbe — where the hint path is
    * two stat calls). The listing remains only for legacy/hint-less
    * tables, and its result backfills the hint (best-effort, like the
    * packed-stats backfill) so it is paid at most once per table. */
  def currentVersion(dir: String): Option[Long] = {
    val key = dirKey(dir)
    val hint = versionHints.get(key)
    var v: Long =
      if (hint != null &&
          SidecarFs.exists(versionedManifestPath(dir, hint.longValue)))
        hint.longValue
      else readVersionHint(dir)
        .filter(h => SidecarFs.exists(versionedManifestPath(dir, h)))
        .getOrElse {
          val listed = manifestVersions(dir).lastOption.getOrElse {
            versionHints.remove(key); return None
          }
          backfillVersionHint(dir, listed)
          listed
        }
    while (SidecarFs.exists(versionedManifestPath(dir, v + 1))) v += 1
    versionHints.put(key, v)
    Some(v)
  }

  /** All live segment planning stats as of snapshot `v`: cache → packed
    * file → per-sidecar sweep (which backfills the pack, so the sweep
    * happens at most once per version across all future plans and
    * processes). None when the version vanished mid-read (drop/recreate
    * race) — callers re-probe. */
  private def segmentsForVersion(dir: String, v: Long): Option[Seq[Meta]] = {
    val mp = versionedManifestPath(dir, v)
    val ident = SidecarFs.identity(mp).getOrElse(return None)
    val key = StatsKey(dirKey(dir), v, ident)
    statsLock.synchronized(Option(statsCache.get(key))) match {
      case hit @ Some(_) => return hit
      case None =>
    }
    val live = readManifestVersion(dir, v).getOrElse(return None)
    // a pack is authoritative only when it lists EXACTLY the manifest's
    // set (guards torn/mismatched packs from a crashed committer)
    val metas = readPackedStats(dir, v)
      .filter(ms => ms.iterator.map(_.file).toSet == live)
      .getOrElse {
        val ms = live.toSeq.map(_.stripSuffix(".kv")).sorted
          .map(readMeta(dir, _, withIndex = false))
        // best-effort backfill: read-only mounts just keep the slow path
        try writePackedStats(dir, v, ms) catch { case _: Exception => () }
        ms
      }
    statsLock.synchronized(statsCache.put(key, metas))
    Some(metas)
  }

  /** Build + publish the pack for freshly-committed version `v`:
    * previous pack's entries carry over (segments are immutable), only
    * the commit's new files read their sidecars. Best-effort — a miss
    * means readers fall back to sidecars and backfill. */
  private def publishStats(dir: String, v: Long, prevV: Option[Long],
      next: Set[String]): Unit =
    try {
      val pool = new scala.collection.mutable.HashMap[String, Meta]
      prevV.flatMap(readPackedStats(dir, _))
        .foreach(_.foreach(m => pool(m.file) = m))
      val metas = next.toSeq.map(_.stripSuffix(".kv")).sorted.map(n =>
        pool.getOrElse(s"$n.kv", readMeta(dir, n, withIndex = false)))
      writePackedStats(dir, v, metas)
    } catch { case _: Exception => () }

  // ── NDV sketch pack ────────────────────────────────────────────────────
  // Per-segment HLL++ sketches (sidecar sketch frames) answer whole-table
  // approx_count_distinct from metadata (KvNdvRule). They are NOT part
  // of the planning pack — every plan reads that, and ~400 B × columns ×
  // segments of registers would bloat it for queries that never ask for
  // NDV. Instead a dedicated `_graft_ndv.vN` pack is built LAZILY on the
  // first NDV query per version (incrementally from the previous
  // version's pack — segments are immutable — so steady-state cost is
  // O(commit delta), and only the first build on a legacy/pack-less
  // table sweeps sidecars), cached exactly like the planning stats.

  // V2 (-203; -202 is the V1 quantile pack): payloads framed like the
  // sidecar's sketch tail
  private val NdvPackV2 = -203

  private def ndvPath(dir: String, v: Long): String =
    SidecarFs.child(dir, s"_graft_ndv.v$v")
  private def qsPath(dir: String, v: Long): String =
    SidecarFs.child(dir, s"_graft_qs.v$v")

  /** Sidecar opens on the NDV path (test instrumentation, mirrors
    * metaOpens): the legacy-sweep cache and the pack's incremental build
    * are pinned on this never growing in the steady state. */
  private[graft] val ndvSidecarOpens = new java.util.concurrent.atomic.AtomicLong()

  /** Skip from just after the format int to the start of the sketch
    * frame (shared by the NDV and quantile sidecar parsers). Returns
    * false for pre-V14 sidecars, whose sketch sections are not decoded. */
  private def skipToSketchFrame(in: DataInputStream, ver: Int): Boolean = {
    if (ver != FormatV14) return false
    in.skipNBytes(16) // gen + tombstones
    val sj = in.readInt(); if (sj > 0) in.skipNBytes(sj.toLong)
    in.skipNBytes(in.readInt().toLong) // minKey
    in.skipNBytes(in.readInt().toLong) // maxKey
    in.skipNBytes(16) // count + sizeBytes
    var nb = in.readInt() // blooms
    while (nb > 0) { in.skipNBytes(in.readInt().toLong * 8L); nb -= 1 }
    var nz = in.readInt() // zone stats
    while (nz > 0) {
      in.skipNBytes(in.readInt().toLong) // column name
      val dt = readZoneTag(in)
      readZoneValue(in, dt); readZoneValue(in, dt)
      readZoneExact(in, dt)
      if (in.readBoolean()) in.readLong()
      nz -= 1
    }
    var nn = in.readInt() // null counts
    while (nn > 0) {
      in.skipNBytes(in.readInt().toLong)
      in.skipNBytes(8)
      nn -= 1
    }
    true
  }

  /** The sketch frame: `[4B rawLen][4B compLen][compLen bytes]`, the
    * body one zstd frame at level 3 (the `segment.compress` codec).
    * Sketches are highly redundant — small segments' GK summaries are
    * one (value, 1, 0) triple per row, mostly integral values — and
    * compress ~15-28× where lz4 reached ~10×. One frame, no option and
    * no level knob: the compression is lossless, so every sketch reads
    * back as the same arrays and metadata answers stay bit-identical.
    * Shared by the sidecar's sketch tail and every pack payload. */
  private def writeSketchFrame(out: DataOutputStream)(
      body: DataOutputStream => Unit): Unit = {
    val buf = new ByteArrayOutputStream()
    val d = new DataOutputStream(buf)
    body(d); d.flush()
    val raw = buf.toByteArray
    val comp = Compression.compress(SketchCodec, raw, raw.length)
    out.writeInt(raw.length); out.writeInt(comp.length); out.write(comp)
  }

  private def readSketchFrame(in: DataInputStream): DataInputStream = {
    val rawLen = in.readInt()
    val comp = new Array[Byte](in.readInt()); in.readFully(comp)
    new DataInputStream(new ByteArrayInputStream(
      Compression.decompress(SketchCodec, comp, rawLen)))
  }

  private def skipSketchFrame(in: DataInputStream): Unit = {
    in.skipNBytes(4) // rawLen
    in.skipNBytes(in.readInt().toLong)
  }

  private val SketchCodec: Byte = Compression.codecId(Compression.Zstd)

  /** The ONE wire format per sketch, shared by the sidecar's sketch
    * frame and the versioned pack payloads — previously hand-duplicated
    * at six sites, where a field added to one copy would silently
    * corrupt the others with no compiler help. */
  private def writeNdvSketch(out: DataOutputStream, s: NdvSketch): Unit = {
    val cb = s.name.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    out.writeInt(cb.length); out.write(cb)
    out.writeInt(s.words.length)
    s.words.foreach(out.writeLong)
  }

  private def readNdvSketch(in: DataInputStream): NdvSketch = {
    val cb = new Array[Byte](in.readInt()); in.readFully(cb)
    val words = new Array[Long](in.readInt())
    var i = 0
    while (i < words.length) { words(i) = in.readLong(); i += 1 }
    NdvSketch(new String(cb, java.nio.charset.StandardCharsets.UTF_8), words)
  }

  private def writeQsSketch(out: DataOutputStream, q: QuantileSketch): Unit = {
    val cb = q.name.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    out.writeInt(cb.length); out.write(cb)
    out.writeDouble(q.relativeError)
    out.writeLong(q.count)
    out.writeInt(q.values.length)
    var i = 0
    while (i < q.values.length) {
      out.writeDouble(q.values(i)); out.writeLong(q.gs(i))
      out.writeLong(q.deltas(i))
      i += 1
    }
  }

  private def readQsSketch(in: DataInputStream): QuantileSketch = {
    val cb = new Array[Byte](in.readInt()); in.readFully(cb)
    val relErr = in.readDouble()
    val count = in.readLong()
    val n = in.readInt()
    val values = new Array[Double](n)
    val gs = new Array[Long](n)
    val deltas = new Array[Long](n)
    var i = 0
    while (i < n) {
      values(i) = in.readDouble(); gs(i) = in.readLong()
      deltas(i) = in.readLong()
      i += 1
    }
    QuantileSketch(new String(cb, java.nio.charset.StandardCharsets.UTF_8),
      relErr, count, values, gs, deltas)
  }

  /** A count-prefixed list of sketches: one section of the sidecar's
    * sketch frame, and the whole payload of a pack entry. */
  private def writeNdvSection(out: DataOutputStream, ss: Seq[NdvSketch]): Unit = {
    out.writeInt(ss.length); ss.foreach(writeNdvSketch(out, _))
  }
  private def readNdvSection(in: DataInputStream): Seq[NdvSketch] =
    (0 until in.readInt()).map(_ => readNdvSketch(in))
  private def writeQsSection(out: DataOutputStream,
      ss: Seq[QuantileSketch]): Unit = {
    out.writeInt(ss.length); ss.foreach(writeQsSketch(out, _))
  }
  private def readQsSection(in: DataInputStream): Seq[QuantileSketch] =
    (0 until in.readInt()).map(_ => readQsSketch(in))

  /** One sidecar's decompressed sketch frame, positioned at its NDV
    * section; None for pre-V14 sidecars (the callers' all-segments gates
    * then refuse). */
  private def readSketchTail(dir: String, name: String): Option[DataInputStream] = {
    val in = new DataInputStream(new BufferedInputStream(
      SidecarFs.open(metaPath(dir, name)), 1 << 16))
    try {
      val ver = in.readInt()
      if (skipToSketchFrame(in, ver)) Some(readSketchFrame(in)) else None
    } finally in.close()
  }

  /** Extract just the NDV section from one sidecar (empty for pre-V14
    * segments — the caller's all-segments gate then refuses). A
    * dedicated parser rather than a readMeta flag so the planning-path
    * instrumentation (metaOpens) stays a pure planning signal. */
  private def readNdvSidecar(dir: String, name: String): Seq[NdvSketch] = {
    ndvSidecarOpens.incrementAndGet()
    readSketchTail(dir, name).map(readNdvSection).getOrElse(Seq.empty)
  }

  /** Extract the quantile summaries from one sidecar's sketch frame. */
  private def readQsSidecar(dir: String, name: String): Seq[QuantileSketch] = {
    qsSidecarOpens.incrementAndGet()
    readSketchTail(dir, name).map { f =>
      readNdvSection(f) // step over the NDV registers
      readQsSection(f)
    }.getOrElse(Seq.empty)
  }

  private[graft] val qsSidecarOpens = new java.util.concurrent.atomic.AtomicLong()

  /** Versioned store of LAZILY-packed sidecar-derived artifacts (NDV
    * registers, quantile summaries): `get(dir)` serves the live
    * segments' payloads as of the current manifest version via
    * cache → `_<prefix>.vN` pack → incremental build from the newest
    * older pack + only the delta's sidecars. Legacy (manifest-less)
    * tables cache their full sweep on the directory listing itself
    * (segments are immutable, so the sorted live file set fully
    * determines every payload). Either way the steady-state cost per
    * plan is a map lookup — never O(segments) sidecar opens. */
  private final class ArtifactPacks[T](prefix: String, marker: Int,
      readSidecar: (String, String) => T,
      writePayload: (DataOutputStream, T) => Unit,
      readPayload: DataInputStream => T) {

    def packPath(dir: String, v: Long): String =
      SidecarFs.child(dir, s"$prefix.v$v")

    private val lock = new Object
    private val cache =
      new java.util.LinkedHashMap[StatsKey, Map[String, T]](64, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[StatsKey, Map[String, T]]): Boolean =
          size() > 16
      }
    private val legacyLock = new Object
    private val legacyCache =
      new java.util.LinkedHashMap[(String, Seq[(String, String)]), Map[String, T]](
        64, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[(String, Seq[(String, String)]), Map[String, T]]): Boolean =
          size() > 16
      }

    def clear(): Unit = {
      lock.synchronized(cache.clear())
      legacyLock.synchronized(legacyCache.clear())
    }

    private def writePack(dir: String, v: Long,
        entries: Seq[(String, T)]): Unit = {
      val tmp = SidecarFs.child(dir,
        s".$prefix.tmp-${java.util.UUID.randomUUID().toString.take(8)}")
      val out = new DataOutputStream(new BufferedOutputStream(
        SidecarFs.create(tmp), 1 << 16))
      try {
        out.writeInt(marker)
        out.writeInt(entries.length)
        entries.foreach { case (file, payload) =>
          val fb = file.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          out.writeInt(fb.length); out.write(fb)
          writeSketchFrame(out)(writePayload(_, payload))
        }
      } finally out.close()
      try SidecarFs.moveReplace(tmp, packPath(dir, v))
      catch { case _: Exception => SidecarFs.deleteIfExists(tmp) }
    }

    private def readPack(dir: String, v: Long): Option[Seq[(String, T)]] = {
      val p = packPath(dir, v)
      if (!SidecarFs.exists(p)) return None
      try {
        val in = new DataInputStream(new BufferedInputStream(
          SidecarFs.open(p), 1 << 16))
        try {
          if (in.readInt() != marker) return None
          Some((0 until in.readInt()).map { _ =>
            val fb = new Array[Byte](in.readInt()); in.readFully(fb)
            val file = new String(fb, java.nio.charset.StandardCharsets.UTF_8)
            file -> readPayload(readSketchFrame(in))
          })
        } finally in.close()
      } catch { case _: Exception => None }
    }

    def get(dir: String): Map[String, T] =
      currentVersion(dir) match {
        case None => // legacy table: directory listing is the authority.
          // The key carries each live file's (size, mtime, fileKey), not
          // just its name — a legacy table recreated in place with
          // identical segment names must MISS, never serve the dead
          // table's sketches (the versioned path gets the same guard
          // from the manifest file's attributes)
          val live = listSegments(dir).map(_.file).sorted
          val key = (dirKey(dir), live.map { f =>
            (f, SidecarFs.identity(SidecarFs.child(dir, f)).getOrElse("?"))
          })
          legacyLock.synchronized(Option(legacyCache.get(key))) match {
            case Some(hit) => hit
            case None =>
              val built = live.map(f =>
                f -> readSidecar(dir, f.stripSuffix(".kv"))).toMap
              legacyLock.synchronized(legacyCache.put(key, built))
              built
          }
        case Some(v) =>
          val mp = versionedManifestPath(dir, v)
          val ident = SidecarFs.identity(mp).getOrElse(return Map.empty)
          val key = StatsKey(dirKey(dir), v, ident)
          lock.synchronized(Option(cache.get(key))) match {
            case Some(hit) => return hit
            case None =>
          }
          val live = readManifestVersion(dir, v).getOrElse(return Map.empty)
          // a pack is authoritative only when it lists EXACTLY the
          // manifest's set (guards torn/mismatched packs)
          val entries = readPack(dir, v)
            .filter(_.iterator.map(_._1).toSet == live)
            .getOrElse {
              // seed from the NEWEST retained pack, whatever version
              // wrote it — segments are immutable, so an older pack's
              // entries stay valid for the files both versions share;
              // only the commits since then read their sidecars
              val pool = new scala.collection.mutable.HashMap[String, T]
              manifestVersions(dir).filter(_ < v).sorted.reverseIterator
                .map(readPack(dir, _))
                .collectFirst { case Some(entries) => entries }
                .foreach(_.foreach { case (f, s) => pool(f) = s })
              val built = live.toSeq.sorted.map(f => f -> pool.getOrElse(f,
                readSidecar(dir, f.stripSuffix(".kv"))))
              try writePack(dir, v, built) catch { case _: Exception => () }
              built
            }
          val m = entries.toMap
          lock.synchronized(cache.put(key, m))
          m
      }
  }

  private val ndvPacks = new ArtifactPacks[Seq[NdvSketch]](
    "_graft_ndv", NdvPackV2, readNdvSidecar, writeNdvSection, readNdvSection)

  // V2 packs frame each entry's payload like the sidecar's sketch tail
  // (writeSketchFrame); a V1 pack misses and is rebuilt from sidecars
  private val QsPackV2 = -204

  private val qsPacks = new ArtifactPacks[Seq[QuantileSketch]](
    "_graft_qs", QsPackV2, readQsSidecar, writeQsSection, readQsSection)

  /** The metadata-aggregate soundness gate, shared by every consumer
    * that turns per-segment physical metadata (counts, sums, extremes,
    * sketches) into claims about live rows: sound only when segments
    * are fully key-disjoint (overlaps hold superseded generations the
    * merge-on-read path suppresses) and tombstone-free (deletes the
    * sidecars still count). */
  def disjointTombstoneFree(segs: Seq[Meta],
      cmp: (Array[Byte], Array[Byte]) => Int): Boolean = {
    if (segs.exists(_.tombstones > 0)) return false
    if (segs.length <= 1) return true
    val sorted = segs.sortWith((a, b) => cmp(a.minKey, b.minKey) < 0)
    var prevMax = sorted.head.maxKey
    var i = 1
    while (i < sorted.length) {
      if (cmp(sorted(i).minKey, prevMax) <= 0) return false
      if (cmp(sorted(i).maxKey, prevMax) > 0) prevMax = sorted(i).maxKey
      i += 1
    }
    true
  }

  /** Exact null count of one value column over `segs` — None when any
    * segment lacks the V10 claim. Key columns are handled by CALLERS
    * (never null by the codec contract, so they answer 0 without a
    * claim). The caller guards soundness with [[disjointTombstoneFree]]
    * (a superseded generation's nulls are not live nulls). */
  def mergedNullCount(segs: Seq[Meta], col: String): Option[Long] = {
    if (segs.isEmpty) return None
    val per = segs.map(_.nullCounts.find(_._1 == col))
    if (per.exists(_.isEmpty)) None else Some(per.map(_.get._2).sum)
  }

  /** Merge one column's per-segment HLL++ registers and query the
    * estimate — None when any live segment lacks a correctly-sized
    * sketch (pre-V14 sidecar). The caller guards soundness with
    * [[disjointTombstoneFree]]. */
  def mergedNdvEstimate(segs: Seq[Meta],
      sketches: Map[String, Seq[NdvSketch]], col: String): Option[Long] = {
    val helper =
      new org.apache.spark.sql.catalyst.util.HyperLogLogPlusPlusHelper(NdvRsd)
    val perSeg = segs.map(m => sketches.getOrElse(m.file, Seq.empty)
      .find(s => s.name == col && s.words.length == helper.numWords))
    if (segs.isEmpty || perSeg.exists(_.isEmpty)) return None
    val merged = new org.apache.spark.sql.catalyst.expressions
      .GenericInternalRow(Array.fill[Any](helper.numWords)(0L))
    perSeg.foreach(s => helper.merge(merged,
      new org.apache.spark.sql.catalyst.expressions
        .GenericInternalRow(s.get.words.map(w => w: Any)), 0, 0))
    Some(helper.query(merged, 0))
  }

  /** Live segments' NDV sketches (file → sketches) as of the CURRENT
    * manifest version — served through [[ArtifactPacks]] (cache → pack
    * → incremental build; legacy tables cache on the listing), so the
    * steady-state planning cost is a map lookup. */
  def ndvSketches(dir: String): Map[String, Seq[NdvSketch]] =
    ndvPacks.get(dir)

  /** Live segments' quantile summaries (file → sketches), same serving
    * discipline as [[ndvSketches]] via the `_graft_qs.vN` pack. */
  def qsSketches(dir: String): Map[String, Seq[QuantileSketch]] =
    qsPacks.get(dir)

  /** Merge one column's per-segment quantile summaries — None when any
    * live segment lacks a summary at the writer's relative error
    * (pre-V14 sidecar). GK merge keeps the ε-rank bound, so the merged
    * summary answers approx_percentile within the same contract the
    * scan-side aggregate promises. The caller guards soundness with
    * [[disjointTombstoneFree]] (a superseded generation's values must
    * not be ranked). */
  def mergedQuantileSummaries(segs: Seq[Meta],
      sketches: Map[String, Seq[QuantileSketch]], col: String)
      : Option[org.apache.spark.sql.catalyst.util.QuantileSummaries] = {
    if (segs.isEmpty) return None
    val perSeg = segs.map(m => sketches.getOrElse(m.file, Seq.empty)
      .find(s => s.name == col && s.relativeError == QsRelativeError))
    if (perSeg.exists(_.isEmpty)) return None
    val nonEmpty = perSeg.map(_.get).filter(_.count > 0)
    if (nonEmpty.isEmpty) // all segments empty in this column
      return Some(new org.apache.spark.sql.catalyst.util.QuantileSummaries(
        org.apache.spark.sql.catalyst.util.QuantileSummaries
          .defaultCompressThreshold, QsRelativeError))
    // TREE reduction, not a sequential fold: each merge costs O(sum of
    // the two sample arrays), and a left fold re-walks the growing
    // accumulator once per segment — O(K²·s) over 10k segments (seconds
    // at plan time). Halving rounds keep every level's total work at
    // O(total samples), so the union is O(S·log K) — metadata-flat like
    // the NDV register merge. (GK merge is associative within the ε
    // bound, so the tree shape only changes WHICH valid ε-approximation
    // comes out, never its contract.)
    var layer = nonEmpty.map(_.toSummaries)
    while (layer.length > 1)
      layer = layer.grouped(2).map {
        case scala.collection.Seq(a, b) => a.merge(b)
        case scala.collection.Seq(a) => a
      }.toSeq
    Some(layer.head)
  }

  /** The LIVE segment set as of snapshot `version`. Replaced files keep
    * their data and sidecars on disk through the retention window, so a
    * recent snapshot lists fully even after compaction rewrote it. */
  def listSegmentsAsOf(dir: String, version: Long): Seq[Meta] = {
    val live = readManifestVersion(dir, version).getOrElse(
      throw new IllegalArgumentException(
        s"no snapshot version $version at $dir " +
          s"(retained: ${manifestVersions(dir).mkString(", ")})"))
    // fail at planning, not mid-scan, if the retention sweep already
    // reclaimed this snapshot's files (one stat per segment — snapshot
    // reads are the rare path; live plans never pay this)
    val missing =
      live.filterNot(f => SidecarFs.exists(SidecarFs.child(dir, f)))
    if (missing.nonEmpty) throw new IllegalStateException(
      s"snapshot $version of $dir references swept segments: " +
        missing.toSeq.sorted.mkString(", "))
    segmentsForVersion(dir, version).getOrElse(
      throw new IllegalStateException(
        s"snapshot $version of $dir vanished while listing"))
  }

  /** All LIVE segment metas under a table dir (index not loaded — see
    * readMeta). Manifest-governed tables serve the packed planning stats
    * of the current version (O(1) file reads, cached); legacy tables
    * list the directory. */
  def listSegments(dir: String): Seq[Meta] = {
    var attempts = 0
    while (attempts < 64) {
      currentVersion(dir) match {
        case Some(v) => segmentsForVersion(dir, v) match {
          case Some(ms) => return ms
          case None => attempts += 1 // version vanished mid-read — re-probe
        }
        case None =>
          // legacy (pre-manifest) table: directory listing is authority
          val onDisk = SidecarFs.list(dir)
            .filter(_.endsWith(".kvmeta")).map(_.stripSuffix(".kvmeta"))
          val names = readMirror(dir) match {
            case Some(live) => onDisk.filter(n => live.contains(s"$n.kv"))
            case None => onDisk
          }
          return names.sorted.toSeq.map(readMeta(dir, _, withIndex = false))
      }
    }
    throw new IllegalStateException(s"cannot list a stable segment set at $dir")
  }

  def nonEmpty(dir: String): Boolean = listSegments(dir).nonEmpty

  /** Greatest sparse-index offset whose key is strictly below `keyPrefix`
    * under `cmp` (the table's key order: unsigned-lexicographic for the
    * binary codec, typed for stringformat) — a safe seek start for any
    * scan whose lower bound encodes to `keyPrefix`, because records
    * before it are all ≤ that index key. */
  def floorOffset(meta: Meta, keyPrefix: Array[Byte],
      cmp: (Array[Byte], Array[Byte]) => Int = OrderedCodec.compare): Long = {
    // binary search — a point-heavy scan (IN-list / runtime join keys)
    // re-seeks once per gap, so the floor lookup must not walk the index
    val idx = meta.index
    var lo = 0
    var hi = idx.length - 1
    var best = 0L
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      if (cmp(idx(mid)._1, keyPrefix) < 0) { best = idx(mid)._2; lo = mid + 1 }
      else hi = mid - 1
    }
    best
  }

  /** Buffered stream for the segment reader. Unlike
    * `java.io.BufferedInputStream`, whose `read()` is synchronized, it
    * takes no lock: `DataInputStream.readInt` calls `read()` four times,
    * twice per record, and a reader is only ever used by one thread.
    * `skip` drains the buffer, then seeks the underlying stream. */
  private final class PlainInput(raw: InputStream) extends InputStream {
    private val buf = new Array[Byte](1 << 16)
    private var pos = 0
    private var limit = 0

    /** Refill an exhausted buffer; false at end of stream. */
    private def fill(): Boolean = {
      pos = 0
      limit = math.max(raw.read(buf, 0, buf.length), 0)
      limit > 0
    }

    /** The first 4 bytes as a big-endian int without consuming them —
      * 0 (never the magic) when the stream holds fewer. Called on a
      * fresh stream only. */
    def peekInt(): Int = {
      while (limit < 4) {
        val r = raw.read(buf, limit, buf.length - limit)
        if (r < 0) return 0
        limit += r
      }
      ((buf(0) & 0xff) << 24) | ((buf(1) & 0xff) << 16) |
        ((buf(2) & 0xff) << 8) | (buf(3) & 0xff)
    }

    override def read(): Int =
      if (pos < limit || fill()) { val b = buf(pos) & 0xff; pos += 1; b }
      else -1

    override def read(b: Array[Byte], off: Int, len: Int): Int =
      if (len == 0) 0
      else if (pos >= limit && !fill()) -1
      else {
        val n = math.min(len, limit - pos)
        System.arraycopy(buf, pos, b, off, n)
        pos += n
        n
      }

    override def skip(n: Long): Long =
      if (n <= 0) 0L
      else if (pos < limit) {
        val s = math.min(n, (limit - pos).toLong).toInt
        pos += s
        s.toLong
      } else {
        // seek to the LAST skipped byte and buffer from there: a local
        // file seeks past its end silently, and a target beyond the end
        // (a truncated segment) must surface as EOF, not as a clean end
        val s = raw.skip(n - 1)
        if (s < n - 1 || !fill()) s
        else { pos = 1; n }
      }

    override def close(): Unit = raw.close()
  }

  /** Iterate a segment's records in key order, optionally starting at a
    * byte offset taken from the sparse index. Supports forward re-seeks
    * (`skipForwardTo`) so a multi-range scan can jump over disqualified
    * gaps instead of decoding through them (reference seek-hint protocol,
    * HBaseCustomFilter.scala:222-435), and counts decoded records so
    * tests can assert decoded ≈ matched. */
  final class Reader(dir: String, file: String, startOffset: Long = 0L)
      extends Iterator[(Array[Byte], Array[Byte])] with Closeable {
    // per-segment codec auto-detect: a compressed segment opens with the
    // (negative) magic + codec byte; anything else is the plain record
    // stream. All positions below — startOffset, pos, skipForwardTo —
    // are LOGICAL (uncompressed-stream) offsets in both modes.
    private val in: DataInputStream = {
      val base = new PlainInput(SidecarFs.open(SidecarFs.child(dir, file)))
      if (base.peekInt() == Compression.Magic) {
        base.skipNBytes(4)
        val id = base.read()
        if (id < 0) throw new EOFException(s"$file: truncated codec byte")
        new DataInputStream(new Compression.BlockInput(base, id.toByte))
      } else new DataInputStream(base)
    }
    if (startOffset > 0) in.skipNBytes(startOffset)
    // absolute offset of the next unread byte (the pre-read record ends here)
    private var pos: Long = startOffset
    private var decoded: Long = 0L
    private var nextRec: (Array[Byte], Array[Byte]) = _
    private var eof = false
    advance()

    /** Records decoded so far (incl. pre-read) — the seek efficiency metric. */
    def decodedCount: Long = decoded

    private def advance(): Unit = {
      // ONLY an EOF on the leading length read is a clean end of
      // segment; EOF anywhere mid-record (readFully, the value length)
      // means the file is TRUNCATED — fail loudly instead of silently
      // returning a prefix of the rows (a scan that under-counts is
      // strictly worse than one that errors; the sidecar's Meta.count
      // is the recovery breadcrumb)
      val kl =
        try in.readInt()
        catch {
          case _: EOFException =>
            eof = true; nextRec = null; in.close(); return
        }
      try {
        val k = new Array[Byte](kl); in.readFully(k)
        val vl = in.readInt()
        // vl == -1 is a TOMBSTONE (deleted key): value reads as null
        val v = if (vl < 0) null else {
          val b = new Array[Byte](vl); in.readFully(b); b
        }
        pos += 8L + kl + (if (vl < 0) 0 else vl)
        decoded += 1
        nextRec = (k, v)
      } catch {
        case e: EOFException =>
          in.close()
          throw new java.io.IOException(
            s"truncated segment record at offset $pos (after $decoded " +
              "decoded records) — the data file is shorter than its " +
              "records claim", e)
      }
    }

    /** Drop the pre-read record and jump to an absolute byte offset
      * further ahead (a sparse-index floor); no-op when the target is at
      * or behind the current position — never moves backwards. */
    def skipForwardTo(target: Long): Unit =
      if (!eof && target > pos) {
        in.skipNBytes(target - pos)
        pos = target
        advance()
      }

    override def hasNext: Boolean = !eof
    override def next(): (Array[Byte], Array[Byte]) = {
      val r = nextRec; advance(); r
    }
    override def close(): Unit = if (!eof) in.close()
  }
}
