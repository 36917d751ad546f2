package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Per-file bloom-filter indexes for point-lookup file skipping — the
  * parquet column-index / Delta bloom-index idea at manifest-file
  * granularity. Min/max bounds prune range predicates on CLUSTERED
  * columns; they are useless for `id = X` on a high-cardinality column
  * whose values interleave across files (every file's [min, max] spans
  * the domain). A per-file bloom answers exactly that shape: "value
  * definitely absent from this file" with a bounded false-positive
  * rate, so a 100 TB point lookup opens a handful of files instead of
  * all of them.
  *
  * Design choices, each load-bearing at scale:
  *  - SIDECAR files (`<data>.bloom`), not manifest-inline bits: a
  *    useful bloom for a million-row file is ~1.2 MB — riding that in
  *    every manifest entry would bloat the pointer every commit
  *    composes forward. The manifest entry records only WHICH columns
  *    are indexed (`bloomcols`); planning consults sidecars lazily,
  *    only for files that already survived bounds/partition pruning
  *    AND only when the query carries an =/IN on an indexed column.
  *  - Sidecars are IMMUTABLE and named after their data file, so the
  *    whole sidecar lifecycle (publish move, retirement GC, vacuum
  *    reachability, snapshot retention) rides the existing
  *    `ownedNames` machinery unchanged.
  *  - SOUND under merge-on-read: deletion vectors and equality deletes
  *    only DROP rows, so "absent from the physical rows" implies
  *    "absent from the live rows". Compaction concatenates rows into
  *    new files and simply does not carry blooms (absence disables,
  *    never corrupts, skipping).
  *  - Conservative everywhere: unsupported type, missing sidecar,
  *    unparseable line, un-normalizable literal, too many rows — all
  *    answer "might contain" / write no index.
  *
  * Hashing: two 32-bit murmur hashes over a TYPE-WIDTH-NORMALIZED
  * encoding (all integrals/date/timestamp widen to 8-byte
  * little-endian; strings hash their UTF-8 bytes), combined
  * Kirsch-Mitzenmacher style (`g1 + i*g2 mod m`, m a power of two).
  * Widening means an `id = 5L` literal finds rows written through an
  * INT column and vice versa — the write and read sides can never
  * disagree on width.
  */
private[sources] object BloomIndex {

  /** Probes per key; ~optimal for 10 bits/key (fpp ≈ 0.9%). */
  val K = 7
  val BitsPerKey = 10
  val MinBits: Int = 1 << 10
  /** 2^26 bits = 8 MB — the largest sidecar worth a driver-side read. */
  val MaxBits: Int = 1 << 26
  /** Above this many rows a useful filter would exceed [[MaxBits]];
    * the writer stands down (no index, no skipping) rather than commit
    * a saturated bloom that skips nothing and costs a read. */
  val MaxKeys: Int = 1 << 23

  def supported(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | StringType |
         DateType | TimestampType => true
    case _ => false
  }

  private val Seed1 = 0x9747b28c
  private val Seed2 = 0x5bd1e995

  /** Hash a CATALYST-domain value (what an InternalRow / a pushed-down
    * literal holds) to a packed pair of 32-bit hashes. Callers must
    * have checked [[supported]]; null is never hashed (a null row can
    * never satisfy the equality the bloom serves). */
  def hashPair(dt: DataType, v: Any): Long = {
    val bytes: Array[Byte] = dt match {
      case StringType => v.asInstanceOf[UTF8String].getBytes
      case _ =>
        val n = v.asInstanceOf[Number].longValue
        val b = new Array[Byte](8)
        var i = 0
        var x = n
        while (i < 8) { b(i) = (x & 0xff).toByte; x >>>= 8; i += 1 }
        b
    }
    val g1 = scala.util.hashing.MurmurHash3.bytesHash(bytes, Seed1)
    val g2 = scala.util.hashing.MurmurHash3.bytesHash(bytes, Seed2)
    (g1.toLong << 32) | (g2.toLong & 0xffffffffL)
  }

  /** Hash an EXTERNAL-domain literal (the `sources.Filter` value
    * domain) against a column of type `dt`; None = un-normalizable →
    * no pruning. */
  def hashPairExternal(dt: DataType, v: Any): Option[Long] = (dt, v) match {
    case (_, null) => None
    case (StringType, s: String) => Some(hashPair(dt, UTF8String.fromString(s)))
    case (StringType, s: UTF8String) => Some(hashPair(dt, s))
    case (DateType, d: java.sql.Date) =>
      Some(hashPair(dt, java.lang.Long.valueOf(d.toLocalDate.toEpochDay)))
    case (DateType, d: java.time.LocalDate) =>
      Some(hashPair(dt, java.lang.Long.valueOf(d.toEpochDay)))
    case (TimestampType, t: java.sql.Timestamp) =>
      Some(hashPair(dt, java.lang.Long.valueOf(
        math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L)))
    case (TimestampType, t: java.time.Instant) =>
      Some(hashPair(dt, java.lang.Long.valueOf(
        java.time.temporal.ChronoUnit.MICROS
          .between(java.time.Instant.EPOCH, t))))
    case (ByteType | ShortType | IntegerType | LongType, n: Number) =>
      // Exact-integer literals only: a fractional Double (id = 3.5)
      // matches nothing, and hashing its truncation would claim 3.
      val l = n.longValue
      val exact = n match {
        case d: java.lang.Double => d.doubleValue == l.toDouble
        case f: java.lang.Float => f.floatValue == l.toFloat
        case b: java.math.BigDecimal =>
          b.compareTo(new java.math.BigDecimal(l)) == 0
        case _ => true
      }
      if (exact) Some(hashPair(dt, java.lang.Long.valueOf(l))) else None
    case _ => None
  }

  /** An immutable filter: `m` bits (power of two), `k` probes. */
  final case class Bloom(m: Int, k: Int, bits: Array[Long]) {
    def mightContain(packed: Long): Boolean = {
      val g1 = (packed >>> 32) & 0xffffffffL
      val g2 = packed & 0xffffffffL
      val mask = (m - 1).toLong
      var i = 0
      while (i < k) {
        val idx = ((g1 + i * g2) & mask).toInt
        if ((bits(idx >>> 6) & (1L << (idx & 63))) == 0L) return false
        i += 1
      }
      true
    }
  }

  private def nextPow2(n: Long): Int = {
    var m = MinBits
    while (m < n && m < MaxBits) m <<= 1
    m
  }

  /** Build from the buffered hash pairs of one written file; None when
    * the writer must stand down (too many keys for a useful filter). */
  def build(hashes: Array[Long], n: Int): Option[Bloom] = {
    if (n > MaxKeys) return None
    val m = nextPow2(n.toLong * BitsPerKey)
    val words = new Array[Long](m >>> 6)
    val mask = (m - 1).toLong
    var j = 0
    while (j < n) {
      val packed = hashes(j)
      val g1 = (packed >>> 32) & 0xffffffffL
      val g2 = packed & 0xffffffffL
      var i = 0
      while (i < K) {
        val idx = ((g1 + i * g2) & mask).toInt
        words(idx >>> 6) |= 1L << (idx & 63)
        i += 1
      }
      j += 1
    }
    Some(Bloom(m, K, words))
  }

  def sidecarName(dataFile: String): String = dataFile + ".bloom"

  /** One NDJSON line per indexed column: {"col":…,"m":…,"k":…,"bits":"<base64>"}. */
  def renderSidecar(blooms: Seq[(String, Bloom)]): String =
    blooms.map { case (col, b) =>
      val bb = java.nio.ByteBuffer.allocate(b.bits.length * 8)
      b.bits.foreach(bb.putLong)
      s"""{"col":"${NdjsonCodec.escape(col)}","m":${b.m},"k":${b.k},""" +
        s""""bits":"${java.util.Base64.getEncoder.encodeToString(bb.array())}"}"""
    }.mkString("", "\n", "\n")

  def parseSidecar(text: String): Map[String, Bloom] =
    text.split('\n').iterator.filter(_.nonEmpty).flatMap { line =>
      try {
        val m = NdjsonCodec.parseLine(line)
        (m.get("col"), m.get("m"), m.get("k"), m.get("bits")) match {
          case (Some(NdjsonCodec.JsonStr(c)), Some(NdjsonCodec.JsonTok(mm)),
              Some(NdjsonCodec.JsonTok(kk)), Some(NdjsonCodec.JsonStr(b64))) =>
            val bytes = java.util.Base64.getDecoder.decode(b64)
            val mBits = mm.toInt
            // Malformed sizes (not pow2, bit/word mismatch) are
            // treated as absent — conservative keep, never a throw
            // on the planning path.
            if (mBits < 64 || (mBits & (mBits - 1)) != 0 ||
                bytes.length * 8 != mBits) None
            else {
              val bb = java.nio.ByteBuffer.wrap(bytes)
              val words = new Array[Long](mBits >>> 6)
              var i = 0
              while (i < words.length) { words(i) = bb.getLong(); i += 1 }
              Some(c -> Bloom(mBits, kk.toInt, words))
            }
          case _ => None
        }
      } catch { case _: Exception => None }
    }.toMap

  // Driver-side cache: planning a point lookup over N candidate files
  // loads each sidecar once per driver, not once per query.
  private val cache = new StatCache[Map[String, Bloom]](soft = true)

  /** Load a data file's bloom sidecar; empty map when missing or
    * unreadable (conservative: no bloom, no skipping). */
  def load(dir: String, dataFile: String): Map[String, Bloom] = {
    val p = Paths.get(dir, sidecarName(dataFile))
    try cache.get(p) {
      parseSidecar(new String(Files.readAllBytes(p), StandardCharsets.UTF_8))
    } catch { case _: Exception => Map.empty }
  }
}
