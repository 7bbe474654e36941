package graft.sources

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Per-file column min/max statistics for lake tables — the footer-stats
  * role parquet row groups and Iceberg manifests play, for a gzip
  * JSON-lines lake that has neither. Writers track [lo, hi] per data
  * column while serializing (zero extra passes); each commit records the
  * entries in its version record's `stats` field (base − removes + adds,
  * like the file list); compaction folds originals' intervals.
  *
  * Two read-side consumers:
  *  - FILE SKIPPING: a pushed-but-residual data filter (`id < 100`,
  *    `v = 'x'`) prunes every file whose [lo, hi] interval provably
  *    cannot satisfy it — the engine still re-evaluates the filter on
  *    surviving rows, so a skip is a pure I/O save, never a semantics
  *    change (missing stats ⇒ keep the file).
  *  - MIN/MAX AGGREGATE PUSHDOWN: `min(col)`/`max(col)` answer as a fold
  *    over per-file stats when every kept file recorded the column
  *    (see [[LakeSinkScanBuilder]]) — zero bytes decompressed.
  *
  * Encoding: numerics/timestamps as decimal text, doubles via
  * `Double.toString` (shortest round-trip; NaN ordered greatest, exactly
  * Spark's ordering), strings as Base64 of UTF-8 bytes compared in
  * UTF8String (binary) space — the SAME ordering Spark's comparisons
  * use, so string pruning is exact. Strings over 256 chars are not
  * tracked (a truncated bound is not a bound); the column is then
  * unrecorded for that file and both consumers degrade gracefully.
  *
  * 100 TB story: stats are O(#files × #cols) driver-side metadata; a
  * selective filter over a clustered table (see
  * [[LakeMaintenance.zorder]]) opens O(matching files), not O(table).
  */
private[graft] object LakeSinkStats {

  val MaxStringChars = 256

  // encoding separators (control chars survive the jsonEscape
  // round trip; none can appear in file names, column names, or the
  // numeric/Base64 value encodings)
  private val FileSep  = '\u0001' // record line: rel <sep> blob
  private val EntrySep = '\u0002' // between column entries of one blob
  private val FieldSep = '\u0003' // within an entry: col, lo, hi

  /** Is this a column type stats understand? (DateType joined with the
    * temporal partition transforms — a days(d) source is a DATA column.) */
  def statable(dt: DataType): Boolean = dt match {
    case LongType | IntegerType | DoubleType | FloatType | StringType |
         TimestampType | DateType => true
    case _ => false
  }

  // --- per-file Bloom filters (point-lookup skipping) ------------------------
  //
  // [lo, hi] intervals cannot serve a needle lookup on an UNCLUSTERED
  // high-cardinality column — every file's interval straddles the needle
  // and every file opens. A per-(file, column) Bloom filter (the parquet
  // column-index / Delta `bloomFilter` role) closes that: `id = X` skips
  // every file whose filter provably lacks X. OPT-IN per write via
  // `.option("bloomFilterColumns", "id")` (+ `bloomFilterBits`, default
  // 2^17) — the sort-claim pattern: only declaring writes carry
  // filters, absent filters keep the file, so the skip is sound by
  // construction. Bits ride the stats blob as a 5th entry part (Base64),
  // so every version record carries them with zero new plumbing;
  // compaction ORs same-size filters (vector-free fold) or rebuilds them
  // (materialize re-parse).

  val DefaultBloomBits: Int = 1 << 17 // 16 KiB/column/file ≈ 10 bits/row at 13k rows
  private val BloomK = 6

  // --- per-file NDV registers (CBO column statistics) -------------------------
  //
  // [lo, hi] + nulls cannot tell the optimizer HOW MANY distinct values a
  // column carries — join ordering and broadcast decisions on lake tables
  // fly blind at 100 TB without it. A per-(file, column) HLL register set
  // (the parquet `distinct_count` / Delta column-stats role) closes that:
  // registers fold across files by ELEMENTWISE MAX (exact — the fold of
  // the parts IS the register set of the concatenation, the same
  // arithmetic law the blooms' OR enjoys), so the scan's
  // `estimateStatistics` can serve `distinctCount` for ANY pruned file
  // subset with zero data reads. OPT-IN per write via
  // `.option("ndvColumns", "a,b")` (the bloom pattern: only declaring
  // writes carry registers, absent registers mean no estimate — never a
  // guess). The payload rides the stats blob as a TAGGED trailing part
  // (':' + Base64 — ':' is in neither the Base64 alphabet nor a number,
  // so the part kind is unambiguous next to an untagged bloom part at any
  // arity) — every version record carries it with zero new plumbing.

  val NdvRegisters: Int = 256 // σ ≈ 1.04/√256 ≈ 6.5% — CBO-grade

  // --- per-file equi-width HISTOGRAMS (CBO selectivity beyond NDV) ----------
  //
  // NDV gives the CBO a distinct count; a SKEWED predicate still estimates
  // uniformly (rows/ndv) — off by orders of magnitude on a hot key. The
  // fix is a per-file value histogram riding the stats blob as the next
  // TAGGED part (';' + text — ';' is in neither Base64 nor a number, so
  // part kinds stay unambiguous next to the bloom and the ':'-tagged NDV
  // at any arity). Buckets live on a POWER-OF-2-ALIGNED GRID: bucket m at
  // width 2^j covers [m·2^j, (m+1)·2^j) — grids NEST, so coarsening is an
  // exact pairwise merge (m → m >> 1) and cross-FILE folds are exact
  // bucket-wise sums after coarsening to the widest grid (the same
  // concat-law shape the NDV max-fold and the bloom OR enjoy). Each file
  // tracks ≤ 64 buckets, adapting j upward as its value range grows.
  // Serving: [[LakeSinkRead]] folds the PRUNED files' histograms and
  // converts to the engine's equi-HEIGHT model (cumulative walk + linear
  // interpolation inside buckets) through `columnStats().histogram()`,
  // which `transformV2Stats` hands to FilterEstimation's histogram path.
  // OPT-IN per write via `.option("histogramColumns", "a,b")` /
  // `graft.histogramColumns` (the bloom/NDV pattern); numeric, date, and
  // timestamp columns only (strings have no numeric axis).

  val HistMaxBuckets: Int = 64

  /** Mutable aligned-grid histogram: counts per bucket index at width
    * 2^j, coarsening (j += 1, m → m >> 1) whenever the bucket set would
    * exceed [[HistMaxBuckets]] or an index would overflow. */
  final class HistBuckets(startJ: Int) {
    private var j = startJ
    private val m = new java.util.HashMap[java.lang.Long, java.lang.Long]()
    def add(v: Double): Unit = {
      if (java.lang.Double.isNaN(v) || java.lang.Double.isInfinite(v)) return
      var idx = math.floor(v / math.pow(2.0, j))
      while (math.abs(idx) > 4.0e18) { coarsen(); idx = math.floor(v / math.pow(2.0, j)) }
      val key = java.lang.Long.valueOf(idx.toLong)
      val prev = m.get(key)
      m.put(key, java.lang.Long.valueOf(if (prev == null) 1L else prev.longValue + 1L))
      if (m.size > HistMaxBuckets) coarsen()
    }
    private def coarsen(): Unit = {
      j += 1
      val nm = new java.util.HashMap[java.lang.Long, java.lang.Long]()
      m.forEach { (k, c) =>
        val nk = java.lang.Long.valueOf(k.longValue >> 1) // floor — grids nest
        val prev = nm.get(nk)
        nm.put(nk, java.lang.Long.valueOf(if (prev == null) c.longValue
          else prev.longValue + c.longValue))
      }
      m.clear(); m.putAll(nm)
    }
    def encoded: Option[String] = {
      if (m.isEmpty) return None
      val buckets = {
        val b = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
        m.forEach((k, c) => b += ((k.longValue, c.longValue)))
        b.sortBy(_._1)
      }
      Some(s";$j|${buckets.map { case (k, c) => s"$k:$c" }.mkString(",")}")
    }
  }

  /** Decode a ';'-tagged histogram part → (j, buckets sorted by index). */
  def decodeHist(part: String): (Int, Seq[(Long, Long)]) = {
    val body = part.substring(1)
    val bar = body.indexOf('|')
    val j = body.substring(0, bar).toInt
    val buckets = body.substring(bar + 1).split(",").toSeq.filter(_.nonEmpty)
      .map { e =>
        val i = e.indexOf(':')
        (e.substring(0, i).toLong, e.substring(i + 1).toLong)
      }
    (j, buckets)
  }

  /** Exact cross-file fold: coarsen every input to the widest grid, sum
    * bucket-wise, re-coarsen under the cap — the histogram of the
    * concatenation (the merge law PropertySpec pins). */
  /** Right-shift that stays correct past the JVM's 6-bit shift mask: a
    * grid-level gap of ≥ 64 collapses every index to its sign bucket
    * (bare `>> 64` would be `>> 0` and land counts in garbage buckets —
    * review r14). */
  private def gridShift(mIdx: Long, s: Int): Long =
    if (s >= 63) (if (mIdx < 0) -1L else 0L) else mIdx >> s

  def histUnion(hs: Seq[(Int, Seq[(Long, Long)])]): Option[(Int, Seq[(Long, Long)])] = {
    if (hs.isEmpty) return None
    var j = hs.map(_._1).max
    var acc: Map[Long, Long] = hs.foldLeft(Map.empty[Long, Long]) {
      case (a, (hj, bs)) => bs.foldLeft(a) { case (a2, (mIdx, c)) =>
        val k = gridShift(mIdx, j - hj)
        a2.updated(k, a2.getOrElse(k, 0L) + c)
      }
    }
    while (acc.size > HistMaxBuckets) {
      j += 1
      acc = acc.foldLeft(Map.empty[Long, Long]) { case (a, (k, c)) =>
        a.updated(k >> 1, a.getOrElse(k >> 1, 0L) + c)
      }
    }
    Some((j, acc.toSeq.sortBy(_._1)))
  }

  private def encodeHist(h: (Int, Seq[(Long, Long)])): String =
    s";${h._1}|${h._2.map { case (k, c) => s"$k:$c" }.mkString(",")}"

  /** Convert a folded aligned-grid histogram to the engine's EQUI-HEIGHT
    * model (`Histogram(height, bins)` — every bin holds ≈ `height` rows):
    * walk the cumulative distribution and cut a bin at each height
    * multiple. Bin EDGES snap to BUCKET edges — the estimator counts
    * `numBinsHoldingRange(v, v)` for an equality, so a HOT value must
    * occupy every bin its mass spans (k near-identical bins over the hot
    * bucket ⇒ selectivity ≈ k/B, the mass fraction), which interpolated
    * interior cuts would break (only the first bin would contain v).
    * Per-bin ndv is the bin's VALUE-SPAN share of the register estimate
    * (integral axes additionally cap at the number of representable
    * integers in the span — a width-1 hot bucket's bins get ndv 1, the
    * repeated-boundary encoding ANALYZE's own histograms use for hot
    * keys). Resolution caveat, documented: skew is resolved to BUCKET
    * granularity — a hot key inside a coarsened bucket dilutes by the
    * bucket's value width (the standard equi-width trade; 64 buckets
    * per file bound the coarsening). */
  def toEquiHeight(j: Int, buckets: Seq[(Long, Long)], ndvTotal: Option[Long],
      integral: Boolean, maxBins: Int = 32)
      : Option[(Double, Array[(Double, Double, Long)])] = {
    val total = buckets.map(_._2).sum
    if (total <= 0L || buckets.isEmpty) return None
    val w = math.pow(2.0, j)
    val nBins = math.min(maxBins.toLong, total).toInt.max(1)
    val height = total.toDouble / nBins
    val span = (buckets.last._1 - buckets.head._1 + 1).toDouble // in buckets
    def ndvOf(startIdx: Long, endIdx: Long): Long = {
      val bucketSpan = (endIdx - startIdx + 1).toDouble
      val byShare = ndvTotal.map(n => n * bucketSpan / span)
        .getOrElse(total * bucketSpan / span)
      val capped =
        if (integral) math.min(byShare, math.max(1.0, bucketSpan * w))
        else byShare
      math.max(1L, math.round(capped))
    }
    val bins = Array.newBuilder[(Double, Double, Long)]
    var emitted = 0
    var binStart = buckets.head._1 // bucket index the current bin starts at
    var target = height            // next boundary's cumulative row count
    var seen = 0.0                 // rows covered by walked buckets
    buckets.foreach { case (m, c) =>
      while (target <= seen + c && emitted < nBins - 1) {
        bins += ((binStart * w, (m + 1) * w, ndvOf(binStart, m)))
        emitted += 1
        binStart = m // a heavy bucket keeps starting new bins — hot-key bins
        target += height
      }
      seen += c
    }
    bins += ((binStart * w, (buckets.last._1 + 1) * w,
      ndvOf(binStart, buckets.last._1)))
    Some((height, bins.result()))
  }

  /** Standard HLL estimate over rank registers (with the linear-counting
    * small-range correction; 56-bit ranks need no large-range term). */
  def ndvEstimate(regs: Array[Byte]): Long = {
    val m = regs.length
    var sum = 0.0
    var zeros = 0
    var i = 0
    while (i < m) {
      sum += java.lang.Math.pow(2.0, -(regs(i) & 0xff).toDouble)
      if (regs(i) == 0) zeros += 1
      i += 1
    }
    val alpha = 0.7213 / (1.0 + 1.079 / m)
    val e = alpha * m * m / sum
    val est =
      if (e <= 2.5 * m && zeros > 0) m * math.log(m.toDouble / zeros) else e
    math.round(est)
  }

  /** Elementwise-max fold — registers of a concatenation EXACTLY equal
    * the fold of its parts' registers (same-size inputs only). */
  def ndvUnion(regSets: Seq[Array[Byte]]): Option[Array[Byte]] = {
    if (regSets.isEmpty || regSets.exists(_.length != regSets.head.length))
      return None
    val out = new Array[Byte](regSets.head.length)
    regSets.foreach { r =>
      var i = 0
      while (i < r.length) {
        if ((r(i) & 0xff) > (out(i) & 0xff)) out(i) = r(i)
        i += 1
      }
    }
    Some(out)
  }

  /** FNV-1a 64 over canonical value bytes — deterministic across JVMs,
    * identical for the writer's InternalRow values and the scan's
    * converted filter literals (both reach here via the
    * internal-COMPARABLE form: Long for int/long/date/timestamp,
    * UTF8String bytes for strings; doubles carry no filters). */
  def bloomFp(comparable: Any): Option[Long] = comparable match {
    case l: java.lang.Long => Some(fnvLong(l.longValue))
    case s: UTF8String     => Some(fnv(s.getBytes))
    case _                 => None
  }

  private def fnv(bytes: Array[Byte]): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < bytes.length) { h ^= bytes(i) & 0xffL; h *= 0x100000001b3L; i += 1 }
    h
  }

  private def fnvLong(v: Long): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < 8) { h ^= (v >>> (8 * i)) & 0xffL; h *= 0x100000001b3L; i += 1 }
    h
  }

  /** Double-hashed blocked membership over power-of-two `m` bits. */
  final class BloomBits(val m: Int) {
    require(m > 0 && (m & (m - 1)) == 0, s"bloom bits must be a power of 2, got $m")
    private val words = new Array[Long](m >> 6)
    def insert(fp: Long): Unit = {
      val step = LakePart.scramble(fp) | 1L
      var i = 0
      while (i < BloomK) {
        val b = ((fp + i * step) & (m - 1)).toInt
        words(b >> 6) |= 1L << (b & 63)
        i += 1
      }
    }
    def encoded: String = {
      val bytes = new Array[Byte](m >> 3)
      java.nio.ByteBuffer.wrap(bytes)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN).asLongBuffer().put(words)
      java.util.Base64.getEncoder.encodeToString(bytes)
    }
  }

  /** Membership test over a DECODED filter byte array (scan side). */
  def bloomMightContain(bytes: Array[Byte], fp: Long): Boolean = {
    val m = bytes.length * 8
    val step = LakePart.scramble(fp) | 1L
    var i = 0
    while (i < BloomK) {
      val b = ((fp + i * step) & (m - 1)).toInt
      if ((bytes(b >> 3) & (1 << (b & 7))) == 0) return false
      i += 1
    }
    true
  }

  /** Bitwise-OR union of same-size filters (compaction's arithmetic
    * fold) — the union over-approximates the merged file's membership,
    * never under: still sound. Mismatched sizes drop the filter. */
  def bloomUnion(encs: Seq[String]): Option[String] = {
    val all = encs.map(java.util.Base64.getDecoder.decode)
    if (all.isEmpty || all.exists(_.length != all.head.length)) return None
    val out = new Array[Byte](all.head.length)
    all.foreach { a =>
      var i = 0
      while (i < a.length) { out(i) = (out(i) | a(i)).toByte; i += 1 }
    }
    Some(java.util.Base64.getEncoder.encodeToString(out))
  }

  // --- per-column trackers (writer side) -------------------------------------

  /** Mutable [lo, hi] + null-count tracker over one column of one file.
    * `encoded` is None when the column cannot be recorded for this file
    * (oversized string), `col<sep>nulls` when every value was NULL,
    * `col<sep>nulls<sep>lo<sep>hi` otherwise. (Legacy 1-part all-null and
    * 3-part bounds entries — pre-null-count ledgers — still decode, with
    * the null count unknown; consumers degrade, never guess.) */
  sealed abstract class ColTracker(name: String) {
    protected var seen = false
    protected var dead = false
    private var nulls = 0L
    private var bloomBits: BloomBits = null
    private var ndvRegs: Array[Byte] = null
    private var hist: HistBuckets = null
    def update(row: InternalRow, i: Int): Unit
    /** Opt this column into a per-file Bloom filter of `m` bits (see the
      * bloom section above) — subclasses insert each value's fp. */
    final def enableBloom(m: Int): Unit = bloomBits = new BloomBits(m)
    /** Opt this column into per-file NDV registers (see the NDV section
      * above) — shares the bloom's value fp. */
    final def enableNdv(): Unit = ndvRegs = new Array[Byte](NdvRegisters)
    /** Opt this column into a per-file aligned-grid histogram (numeric
      * axis — the trackers factory gates by type). `startJ` picks the
      * finest width: 0 (width 1) for integer-valued axes, −20 for IEEE
      * ones whose spread may be sub-unit. */
    final def enableHist(startJ: Int): Unit = hist = new HistBuckets(startJ)
    protected final def histAdd(v: Double): Unit =
      if (hist != null) hist.add(v)
    protected final def bloomAdd(fp: Long): Unit = {
      if (bloomBits != null) bloomBits.insert(fp)
      if (ndvRegs != null) {
        // FNV-1a's top bits avalanche poorly on small sequential inputs
        // (measured: 4000 sequential longs estimated as 809) — finalize
        // with the murmur scrambler before deriving register and rank
        val h = LakePart.scramble(fp)
        // top 8 bits pick the register, the remaining 56 carry the rank
        val idx = ((h >>> 56) & (NdvRegisters - 1)).toInt
        val w = h << 8
        val rank = (if (w == 0L) 57 else java.lang.Long.numberOfLeadingZeros(w) + 1).toByte
        if ((rank & 0xff) > (ndvRegs(idx) & 0xff)) ndvRegs(idx) = rank
      }
    }
    /** The writer saw a NULL in this column — tracked so `count(col)`
      * answers as Σ(rows − nulls) and `IsNull` filters can skip files
      * with zero nulls. */
    final def nullSeen(): Unit = nulls += 1
    protected def loEnc: String
    protected def hiEnc: String
    final def encoded: Option[String] =
      if (dead) None
      else if (!seen) Some(s"$name$FieldSep$nulls")
      else {
        // the bloom attaches only to full bounds entries (arity 5) —
        // all-null files need no filter (EqualTo skips on empty bounds);
        // ndv registers ride LAST as a ':'-tagged part (all-null files
        // need none — zero non-null values is inferable from the entry)
        val b = if (bloomBits == null) "" else s"$FieldSep${bloomBits.encoded}"
        val n = if (ndvRegs == null) "" else
          s"$FieldSep:${java.util.Base64.getEncoder.encodeToString(ndvRegs)}"
        // the ';'-tagged histogram part rides last (all-null files need
        // none — zero non-null values is inferable from the entry)
        val h = if (hist == null) ""
          else hist.encoded.map(e => s"$FieldSep$e").getOrElse("")
        Some(s"$name$FieldSep$nulls$FieldSep$loEnc$FieldSep$hiEnc$b$n$h")
      }
  }

  private final class LongTracker(name: String, get: (InternalRow, Int) => Long)
      extends ColTracker(name) {
    private var lo = 0L; private var hi = 0L
    def update(row: InternalRow, i: Int): Unit = {
      val v = get(row, i)
      bloomAdd(fnvLong(v))
      histAdd(v.toDouble)
      if (!seen) { lo = v; hi = v; seen = true }
      else { if (v < lo) lo = v; if (v > hi) hi = v }
    }
    protected def loEnc: String = lo.toString
    protected def hiEnc: String = hi.toString
  }

  private final class DoubleTracker(name: String, get: (InternalRow, Int) => Double)
      extends ColTracker(name) {
    private var lo = 0.0; private var hi = 0.0
    def update(row: InternalRow, i: Int): Unit = {
      val v = get(row, i)
      // doubles carry no bloom (write planning refuses) but DO count
      // distinct values — fp over the IEEE bit pattern (write-side only;
      // no filter-literal parity needed for an estimate)
      bloomAdd(fnvLong(java.lang.Double.doubleToLongBits(v)))
      histAdd(v)
      if (!seen) { lo = v; hi = v; seen = true }
      else { // Double.compare: NaN greatest, matching Spark's ordering
        if (java.lang.Double.compare(v, lo) < 0) lo = v
        if (java.lang.Double.compare(v, hi) > 0) hi = v
      }
    }
    protected def loEnc: String = lo.toString
    protected def hiEnc: String = hi.toString
  }

  private final class StringTracker(name: String) extends ColTracker(name) {
    private var lo: UTF8String = _; private var hi: UTF8String = _
    def update(row: InternalRow, i: Int): Unit = {
      if (dead) return
      val v = row.getUTF8String(i)
      bloomAdd(fnv(v.getBytes))
      if (v.numChars() > MaxStringChars) { dead = true; lo = null; hi = null; return }
      if (!seen) { val c = v.copy(); lo = c; hi = c; seen = true }
      else { // copy(): the row buffer is reused across rows
        if (v.compareTo(lo) < 0) lo = v.copy()
        if (v.compareTo(hi) > 0) hi = v.copy()
      }
    }
    private def b64(s: UTF8String): String =
      java.util.Base64.getEncoder.encodeToString(s.getBytes)
    protected def loEnc: String = b64(lo)
    protected def hiEnc: String = b64(hi)
  }

  /** One tracker per statable column of a FILE schema (positions are
    * file-schema ordinals — the writer's dataIdx mapping applies before
    * calling update). Non-statable columns get None. */
  def trackers(dataSchema: StructType,
      bloomCols: Map[String, Int] = Map.empty,
      ndvCols: Set[String] = Set.empty,
      histCols: Set[String] = Set.empty): Array[Option[ColTracker]] =
    dataSchema.fields.map { f =>
      val t: Option[ColTracker] = f.dataType match {
        case LongType | TimestampType =>
          Some(new LongTracker(f.name, (r, i) => r.getLong(i)))
        case IntegerType | DateType =>
          Some(new LongTracker(f.name, (r, i) => r.getInt(i).toLong))
        case DoubleType =>
          Some(new DoubleTracker(f.name, (r, i) => r.getDouble(i)))
        case FloatType =>
          Some(new DoubleTracker(f.name, (r, i) => r.getFloat(i).toDouble))
        case StringType => Some(new StringTracker(f.name))
        case _          => None
      }
      // doubles never carry filters (no fp for IEEE values) — callers
      // validate the column list at write planning
      bloomCols.get(f.name).foreach { m =>
        f.dataType match {
          case DoubleType | FloatType => ()
          case _                      => t.foreach(_.enableBloom(m))
        }
      }
      if (ndvCols.contains(f.name)) t.foreach(_.enableNdv())
      if (histCols.contains(f.name)) f.dataType match {
        case DoubleType | FloatType => t.foreach(_.enableHist(-20))
        case StringType             => () // no numeric axis — planning refuses
        case _                      => t.foreach(_.enableHist(0))
      }
      t
    }

  /** Feed one row, in file-schema ordinals, to a file's trackers. */
  def observe(ts: Array[Option[ColTracker]], row: InternalRow): Unit = {
    var c = 0
    while (c < ts.length) {
      if (ts(c).isDefined) {
        if (row.isNullAt(c)) ts(c).get.nullSeen()
        else ts(c).get.update(row, c)
      }
      c += 1
    }
  }

  /** Fold a file's trackers into the per-file blob (entries joined by
    * EntrySep; a column whose tracker died is simply absent). */
  def blobOf(ts: Array[Option[ColTracker]]): String =
    ts.flatten.flatMap(_.encoded).mkString(EntrySep.toString)

  // --- record codec ------------------------------------------------------------

  /** (rel → blob) line codec of a version record's `stats` field. */
  def encodeLines(m: Map[String, String]): String =
    m.toSeq.sorted.map { case (k, v) => s"$k$FileSep$v" }.mkString("\n")

  def decodeLines(body: String): Map[String, String] =
    body.split("\n", -1).iterator.filter(_.nonEmpty).map { line =>
      val i = line.indexOf(FileSep)
      line.substring(0, i) -> line.substring(i + 1)
    }.toMap

  /** The latest record's stats blobs (rel → blob). */
  def readBlobs(path: String): Map[String, String] =
    LakeSinkFiles.latest(path).stats

  // --- decoded form ------------------------------------------------------------

  /** One column's recorded stats for one file: `bounds` None = every
    * value in the file was NULL; Some((lo, hi)) = non-null bounds in
    * internal-comparable form (Long / Double / UTF8String). `nulls` is
    * the file's NULL count for the column — None only for legacy ledger
    * entries written before null counting existed. A column ABSENT from
    * the map was not tracked at all. */
  final case class ColStat(nulls: Option[Long], bounds: Option[(Any, Any)],
      bloom: Option[Array[Byte]] = None, ndv: Option[Array[Byte]] = None,
      hist: Option[(Int, Seq[(Long, Long)])] = None)

  type FileStats = Map[String, ColStat]

  /** `aliases` (physical → logical) translates entries recorded before a
    * RENAME COLUMN — the bounds keep serving the renamed column. */
  def decode(blob: String, schema: StructType,
      aliases: Map[String, String] = Map.empty): FileStats =
    blob.split(EntrySep.toString, -1).iterator.filter(_.nonEmpty).flatMap { entry =>
      val parts = entry.split(FieldSep.toString, -1)
      val name = aliases.getOrElse(parts(0), parts(0))
      schema.fields.find(_.name == name).map { f =>
        name -> (parts.length match {
          case 1 => ColStat(None, None) // legacy all-null
          case 2 => ColStat(Some(parts(1).toLong), None)
          case 3 => ColStat(None, Some((decodeVal(f.dataType, parts(1)),
            decodeVal(f.dataType, parts(2))))) // legacy bounds
          case 4 => ColStat(Some(parts(1).toLong),
            Some((decodeVal(f.dataType, parts(2)), decodeVal(f.dataType, parts(3)))))
          case _ =>
            // trailing parts beyond the bounds: an untagged part is the
            // bloom, a ':'-tagged part the NDV registers, a ';'-tagged
            // part the histogram — the tags keep every arity unambiguous
            // (neither ':' nor ';' is in Base64 or a number), so any
            // subset of the three decodes
            val trailing = parts.drop(4)
            val ndvParts = trailing.filter(_.startsWith(":"))
            val histParts = trailing.filter(_.startsWith(";"))
            val untagged = trailing.filterNot(p =>
              p.startsWith(":") || p.startsWith(";"))
            ColStat(Some(parts(1).toLong),
              Some((decodeVal(f.dataType, parts(2)), decodeVal(f.dataType, parts(3)))),
              bloom = untagged.headOption
                .map(java.util.Base64.getDecoder.decode),
              ndv = ndvParts.headOption
                .map(p => java.util.Base64.getDecoder.decode(p.substring(1))),
              hist = histParts.headOption.map(decodeHist))
        })
      }
    }.toMap

  private def decodeVal(dt: DataType, enc: String): Any = dt match {
    case LongType | IntegerType | TimestampType | DateType =>
      java.lang.Long.parseLong(enc)
    case DoubleType | FloatType                 => java.lang.Double.parseDouble(enc)
    case StringType =>
      UTF8String.fromBytes(java.util.Base64.getDecoder.decode(enc))
    case other => throw new IllegalStateException(s"unstatable type $other")
  }

  private def encodeVal(v: Any): String = v match {
    case l: java.lang.Long   => l.toString
    case d: java.lang.Double => d.toString
    case s: UTF8String => java.util.Base64.getEncoder.encodeToString(s.getBytes)
    case other => throw new IllegalStateException(s"unencodable stat $other")
  }

  /** Merge several files' blobs into one (compaction): a column survives
    * only if EVERY input recorded it; bounds take the interval hull
    * (all-null inputs contribute nothing), null counts SUM — unless any
    * input predates null counting, in which case the merged entry omits
    * the count (legacy arity) rather than guess. */
  def mergeBlobs(blobs: Seq[String], schema: StructType): String = {
    val decoded = blobs.map(decode(_, schema))
    schema.fields.iterator.filter(f => statable(f.dataType)).flatMap { f =>
      val entries = decoded.map(_.get(f.name))
      if (entries.exists(_.isEmpty)) None // some input untracked -> drop
      else {
        val stats = entries.flatten
        val nulls: Option[Long] =
          if (stats.forall(_.nulls.isDefined)) Some(stats.flatMap(_.nulls).sum)
          else None
        val bounds = stats.flatMap(_.bounds)
        val nEnc = nulls.map(n => s"$FieldSep$n").getOrElse("")
        if (bounds.isEmpty) Some(s"${f.name}$nEnc") // all inputs all-null
        else {
          val lo = bounds.map(_._1).reduce((a, b) => if (cmp(a, b) <= 0) a else b)
          val hi = bounds.map(_._2).reduce((a, b) => if (cmp(a, b) >= 0) a else b)
          // blooms fold by bitwise OR — kept only when every BOUNDED input
          // carries one (same size) AND the merged entry has a null count
          // (a bloom on a legacy-arity entry would be misparsed)
          val bWith = stats.filter(_.bounds.isDefined)
          val bEnc: String =
            if (nulls.isDefined && bWith.nonEmpty && bWith.forall(_.bloom.isDefined))
              bloomUnion(bWith.map(c => java.util.Base64.getEncoder
                .encodeToString(c.bloom.get)))
                .map(u => s"$FieldSep$u").getOrElse("")
            else ""
          // ndv registers fold by elementwise max under the same policy
          // (all-null inputs contribute nothing — zero distinct values)
          val nvEnc: String =
            if (nulls.isDefined && bWith.nonEmpty && bWith.forall(_.ndv.isDefined))
              ndvUnion(bWith.map(_.ndv.get))
                .map(u => s"$FieldSep:" +
                  java.util.Base64.getEncoder.encodeToString(u)).getOrElse("")
            else ""
          // histograms fold by the exact aligned-grid sum, same policy
          val hEnc: String =
            if (nulls.isDefined && bWith.nonEmpty && bWith.forall(_.hist.isDefined))
              histUnion(bWith.map(_.hist.get))
                .map(u => s"$FieldSep${encodeHist(u)}").getOrElse("")
            else ""
          Some(s"${f.name}$nEnc$FieldSep${encodeVal(lo)}$FieldSep${encodeVal(hi)}$bEnc$nvEnc$hEnc")
        }
      }
    }.mkString(EntrySep.toString)
  }

  /** Narrow an internal-comparable stat value (Long / Double / UTF8String)
    * to the column type's InternalRow representation — the value a pushed
    * min/max aggregate row must carry. */
  def toInternal(dt: DataType, v: Any): Any = (dt, v) match {
    case (IntegerType | DateType, l: java.lang.Long) =>
      java.lang.Integer.valueOf(l.intValue)
    case (FloatType, d: java.lang.Double) => java.lang.Float.valueOf(d.floatValue)
    case _                                => v
  }

  /** Compare two internal-comparable stat values of the same kind
    * (Integer appears for decoded int/date PARTITION values). Doubles use
    * SPARK's comparison semantics (`SQLOrderingUtil.compareDoubles`):
    * IEEE `==` first — so `-0.0` and `0.0` compare EQUAL, exactly as a
    * pushed `d = -0.0` filter evaluates against stored `0.0` rows — then
    * `Double.compare` for NaN (greatest, self-equal). A raw
    * `Double.compare` here would order `-0.0 < 0.0` and let
    * [[mayMatch]] prune a file whose rows Spark's residual evaluation
    * WOULD match (silent row loss). */
  def cmp(a: Any, b: Any): Int = (a, b) match {
    case (x: java.lang.Long, y: java.lang.Long)       => java.lang.Long.compare(x, y)
    case (x: java.lang.Integer, y: java.lang.Integer) => java.lang.Integer.compare(x, y)
    case (x: java.lang.Double, y: java.lang.Double)   =>
      if (x.doubleValue == y.doubleValue) 0
      else java.lang.Double.compare(x, y)
    case (x: UTF8String, y: UTF8String)               => x.compareTo(y)
    case _ => throw new IllegalStateException(s"incomparable stats: $a vs $b")
  }

  /** Convert a v1 Filter's external literal to the internal-comparable
    * form of `dt`; None = unconvertible (caller must keep the file). */
  def toComparable(dt: DataType, v: Any): Option[Any] = (dt, v) match {
    case (LongType | IntegerType, n: java.lang.Number) =>
      n match {
        case _: java.lang.Long | _: java.lang.Integer | _: java.lang.Short |
             _: java.lang.Byte => Some(java.lang.Long.valueOf(n.longValue))
        case _ => None // fractional literal vs integer column: keep
      }
    case (DoubleType | FloatType, n: java.lang.Number) =>
      Some(java.lang.Double.valueOf(n.doubleValue))
    case (StringType, s: String) => Some(UTF8String.fromString(s))
    case (TimestampType, t: java.sql.Timestamp) =>
      Some(java.lang.Long.valueOf(
        org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaTimestamp(t)))
    case (TimestampType, t: java.time.Instant) =>
      Some(java.lang.Long.valueOf(
        org.apache.spark.sql.catalyst.util.DateTimeUtils.instantToMicros(t)))
    // date literals compare as epoch DAYS — the unit the temporal-
    // partition synthetic stats carry for DateType sources
    case (DateType, d: java.sql.Date) =>
      Some(java.lang.Long.valueOf(d.toLocalDate.toEpochDay))
    case (DateType, d: java.time.LocalDate) =>
      Some(java.lang.Long.valueOf(d.toEpochDay))
    case _ => None
  }

  // --- file skipping -----------------------------------------------------------

  /** May any row of a file with these stats satisfy the filter? Missing
    * stats (None fileStats, untracked column, unconvertible literal,
    * unsupported filter shape) always answer true — skipping is a pure
    * optimization over PROVEN-empty files. */
  def mayMatch(fileStats: Option[FileStats], schema: StructType,
      filter: Filter): Boolean = fileStats match {
    case None     => true
    case Some(fs) => mayMatch0(fs, schema, filter)
  }

  private def bounds(fs: FileStats, schema: StructType, col: String,
      v: Any): Option[(Option[(Any, Any)], Any)] =
    for {
      f <- schema.fields.find(_.name == col)
      entry <- fs.get(col)
      want <- toComparable(f.dataType, v)
    } yield (entry.bounds, want)

  private def mayMatch0(fs: FileStats, schema: StructType, filter: Filter): Boolean =
    filter match {
      case EqualTo(a, v) => bounds(fs, schema, a, v) match {
        case Some((None, _))           => false // all-null: nothing equals v
        case Some((Some((lo, hi)), w)) =>
          cmp(w, lo) >= 0 && cmp(w, hi) <= 0 && (fs.get(a).flatMap(_.bloom) match {
            // the needle proof: a recorded Bloom that lacks w's fp
            // proves no row equals it (no false negatives by
            // construction — same fp arithmetic writer- and scan-side)
            case Some(bits) =>
              bloomFp(w).forall(bloomMightContain(bits, _))
            case None => true
          })
        case None                      => true
      }
      case GreaterThan(a, v) => bounds(fs, schema, a, v) match {
        case Some((None, _))          => false
        case Some((Some((_, hi)), w)) => cmp(hi, w) > 0
        case None                     => true
      }
      case GreaterThanOrEqual(a, v) => bounds(fs, schema, a, v) match {
        case Some((None, _))          => false
        case Some((Some((_, hi)), w)) => cmp(hi, w) >= 0
        case None                     => true
      }
      case LessThan(a, v) => bounds(fs, schema, a, v) match {
        case Some((None, _))          => false
        case Some((Some((lo, _)), w)) => cmp(lo, w) < 0
        case None                     => true
      }
      case LessThanOrEqual(a, v) => bounds(fs, schema, a, v) match {
        case Some((None, _))          => false
        case Some((Some((lo, _)), w)) => cmp(lo, w) <= 0
        case None                     => true
      }
      case In(a, vs) => // IN () matches nothing — a provably-empty file
        vs.exists(v => mayMatch0(fs, schema, EqualTo(a, v)))
      case IsNotNull(a) =>
        // an all-null entry proves no non-null row exists
        fs.get(a) match {
          case Some(ColStat(_, None, _, _, _)) => false
          case _                      => true
        }
      case IsNull(a) =>
        // a recorded zero null count proves no NULL row exists
        fs.get(a) match {
          case Some(ColStat(Some(0L), _, _, _, _)) => false
          case _                          => true
        }
      case And(l, r) => mayMatch0(fs, schema, l) && mayMatch0(fs, schema, r)
      case Or(l, r)  => mayMatch0(fs, schema, l) || mayMatch0(fs, schema, r)
      case _         => true // Not, StartsWith, … : no proof, keep
    }
}
