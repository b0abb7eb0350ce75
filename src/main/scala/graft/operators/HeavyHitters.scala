package graft.operators

import org.apache.spark.sql.{Column, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf

/** **Misra–Gries heavy-hitters sketch** (Misra & Gries, "Finding repeated
  * elements", 1982; mergeable form per Agarwal et al., "Mergeable
  * summaries", PODS'12) — the one-pass, fixed-memory answer to "which keys
  * dominate, and how hard?" that a groupBy-count can only give with a full
  * shuffle of the key column.
  *
  * m counters over hashed keys; an overflowing insert decrements ALL
  * counters (amortized O(1): each decrement round pays for m prior
  * increments). The guarantee that makes it load-bearing:
  *
  *  - counter(h) ≤ true(h) ≤ counter(h) + `decrements`, and
  *  - `decrements` ≤ n / (m+1),
  *
  * so EVERY key with true frequency above n/(m+1) has a counter — the
  * candidate set provably covers all true heavy hitters — and
  * `maxCounter + decrements` upper-bounds ANY key's frequency. Merging adds
  * counters pairwise and re-normalizes to m by subtracting the (m+1)-th
  * largest value (the bounds compose: the merged error is at most the sum).
  *
  * Where it earns its keep at 100 TB:
  *  - [[Joins.estimateEquiJoinSize]] builds one per side IN THE SAME PASS
  *    as the theta key sketch, so [[Joins.routed]]'s skew decision costs no
  *    second scan of the big side;
  *  - the heavy-hitter OPERATOR pattern: sketch → candidate hashes (≤ m) →
  *    exact counts for the candidate rows only (a map-side hash filter +
  *    an agg whose state is ≤ m keys) — `a_heavy_hitters` oracles the
  *    completeness guarantee itself against DuckDB's full GROUP BY/HAVING.
  *
  * Keys are hashed UPSTREAM with codegen `xxhash64` (use [[hashCol]] on
  * nullable columns — same NULL-phantom trap as [[ThetaSketch.hashCol]]);
  * the sketch stores hashes, so candidate identity is recovered by
  * filtering rows on `xxhash64(key) IN candidates`.
  */
final class MGSketch(val m: Int) extends Serializable {
  require(m >= 1, s"m must be >= 1, got $m")

  private[operators] val counters = new java.util.HashMap[java.lang.Long, Long]()
  /** Total decrement offset: true(h) ∈ [counter(h), counter(h) + decrements]. */
  private[operators] var decrements: Long = 0L
  /** Items seen (post-null-filter). */
  private[operators] var n: Long = 0L
  /** True only for a merge-aggregator ZERO buffer (same discipline as
    * [[ThetaSketch]]: a zero must adopt the first real sketch verbatim, m
    * included, or mixed-m merges depend on encounter order). */
  private[operators] var isZeroBuffer: Boolean = false

  def update(h: Long): Unit = {
    n += 1
    // containsKey, not a null check: `get` unboxes a missing key to 0L
    val key = java.lang.Long.valueOf(h)
    if (counters.containsKey(key)) { counters.put(key, counters.get(key) + 1L); () }
    else if (counters.size < m) { counters.put(key, 1L); () }
    else {
      decrements += 1L
      val it = counters.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        if (e.getValue == 1L) it.remove() else e.setValue(e.getValue - 1L)
      }
    }
  }

  /** Mergeable-summaries combine: counter-wise addition, then renormalize
    * to the SMALLER m by subtracting the (m+1)-th largest counter. */
  def mergeWith(other: MGSketch): MGSketch = {
    val mm = math.min(m, other.m)
    other.counters.forEach { (k, v) =>
      counters.put(k, if (counters.containsKey(k)) counters.get(k) + v else v)
      ()
    }
    n += other.n
    decrements += other.decrements
    if (counters.size > mm) {
      val vals = new java.util.ArrayList[Long](counters.values())
      java.util.Collections.sort(vals, java.util.Collections.reverseOrder[Long]())
      val cut = vals.get(mm) // (m+1)-th largest
      decrements += cut
      val it = counters.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        if (e.getValue <= cut) it.remove() else e.setValue(e.getValue - cut)
      }
    }
    // the result must honor the SMALLER m going forward; rebuild-shape is
    // fine since MGSketch.m is a val — return a trimmed copy when needed
    if (mm == m) this
    else {
      val out = new MGSketch(mm)
      out.counters.putAll(counters)
      out.decrements = decrements
      out.n = n
      out
    }
  }

  /** Items the sketch absorbed (post-null-filter). */
  def totalItems: Long = n

  /** The decrement offset — every tracked key's undercount is at most
    * this, and it is at most totalItems/(m+1). */
  def errorBound: Long = decrements

  /** Largest lower-bound frequency among tracked keys. */
  def maxCounter: Long = {
    var mx = 0L
    counters.forEach((_, v) => if (v > mx) mx = v)
    mx
  }

  /** Upper bound on ANY key's true frequency: max counter + the decrement
    * offset (untracked keys are bounded by `decrements` alone). */
  def maxFrequencyUpperBound: Long =
    if (counters.isEmpty) decrements else maxCounter + decrements

  /** Candidate hashes whose true frequency COULD exceed `threshold`
    * (counter + decrements > threshold) — a superset of every key whose
    * true frequency does, by the MG bound. ≤ m entries. */
  def candidatesAbove(threshold: Long): Seq[Long] = {
    val out = Seq.newBuilder[Long]
    counters.forEach((k, v) =>
      if (v + decrements > threshold) { out += k.longValue; () })
    out.result()
  }

  def serialize: Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(4 + 8 + 8 + 4 + 16 * counters.size)
    bb.putInt(m).putLong(n).putLong(decrements).putInt(counters.size)
    counters.forEach((k, v) => { bb.putLong(k.longValue).putLong(v); () })
    bb.array()
  }
}

object HeavyHitters {
  val DefaultM = 64

  def empty(m: Int = DefaultM): MGSketch = new MGSketch(m)

  private def zeroBuffer(): MGSketch = {
    val s = new MGSketch(DefaultM)
    s.isZeroBuffer = true
    s
  }

  def deserialize(bytes: Array[Byte]): MGSketch = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val s = new MGSketch(bb.getInt)
    s.n = bb.getLong
    s.decrements = bb.getLong
    val sz = bb.getInt
    var i = 0
    while (i < sz) {
      s.counters.put(java.lang.Long.valueOf(bb.getLong), bb.getLong)
      i += 1
    }
    s
  }

  /** NULL-safe upstream hash (same trap as [[ThetaSketch.hashCol]]:
    * `xxhash64(NULL)` returns the seed, a phantom shared item). */
  def hashCol(c: Column): Column =
    org.apache.spark.sql.functions.when(c.isNotNull,
      org.apache.spark.sql.functions.xxhash64(c))

  /** `agg(mgAggK(m)(HeavyHitters.hashCol(col)))` over a pre-hashed LONG
    * column — map-side partial sketches, one exchange of ≤ m-entry
    * summaries. */
  def mgAggK(m: Int): org.apache.spark.sql.expressions.UserDefinedFunction =
    udaf(new Aggregator[java.lang.Long, MGSketch, Array[Byte]] {
      def zero: MGSketch = HeavyHitters.empty(m)
      def reduce(b: MGSketch, h: java.lang.Long): MGSketch = {
        if (h != null) b.update(h.longValue)
        b
      }
      def merge(a: MGSketch, b: MGSketch): MGSketch = a.mergeWith(b)
      def finish(s: MGSketch): Array[Byte] = s.serialize
      def bufferEncoder: Encoder[MGSketch] = Encoders.kryo[MGSketch]
      def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
    }, Encoders.LONG)

  lazy val mgAgg: org.apache.spark.sql.expressions.UserDefinedFunction =
    mgAggK(DefaultM)

  /** Rollup over STORED sketches (per-day heavy-hitter summaries merged
    * across any range, like the theta/CMS/t-digest rollups). */
  lazy val mgMergeAgg: org.apache.spark.sql.expressions.UserDefinedFunction =
    udaf(new Aggregator[Array[Byte], MGSketch, Array[Byte]] {
      def zero: MGSketch = HeavyHitters.zeroBuffer()
      def reduce(b: MGSketch, bytes: Array[Byte]): MGSketch =
        if (bytes == null) b
        else if (b.isZeroBuffer) HeavyHitters.deserialize(bytes)
        else b.mergeWith(HeavyHitters.deserialize(bytes))
      def merge(a: MGSketch, b: MGSketch): MGSketch =
        if (a.isZeroBuffer) b
        else if (b.isZeroBuffer) a
        else a.mergeWith(b)
      def finish(s: MGSketch): Array[Byte] = s.serialize
      def bufferEncoder: Encoder[MGSketch] = Encoders.kryo[MGSketch]
      def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
    }, Encoders.BINARY)
}
