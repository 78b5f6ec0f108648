package perfbench

import java.time.LocalDateTime

import scala.collection.mutable.ArrayBuffer

/** Seeded input generators. Every value is a pure function of the seed and
  * a position, so the same seed always yields the same inputs, and the
  * checks can recompute what the engine should hold without reading it. */
object Gen {
  /** SplitMix64 finalizer: a strong 64-bit mix for position hashing. */
  def mix(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }
  def mix(a: Long, b: Long): Long = mix(mix(a) ^ b)
  def mix(a: Long, b: Long, c: Long): Long = mix(mix(a, b) ^ c)
  def mix(a: Long, b: Long, c: Long, d: Long): Long = mix(mix(a, b, c) ^ d)

  /** Uniform int in [0, n) from a hash. */
  def below(h: Long, n: Long): Int = ((h >>> 1) % n).toInt

  /** Uniform double in [0, 1) from a hash. */
  def unit(h: Long): Double = (h >>> 11).toDouble / (1L << 53).toDouble

  /** Order-independent content hash of a multiset of row hashes. */
  final class Digest {
    private var sum = 0L
    private var xor = 0L
    var n = 0L
    def add(h: Long): Unit = { val m = mix(h); sum += m; xor ^= mix(m); n += 1 }
    def value: String = f"$n%d:$sum%016x:$xor%016x"
  }
}

/** A keyed time series shaped like the reference's stress plugin (`ts`,
  * `id`, `val`): one row per id per minute from [[Series.Base]]. A cell's
  * value is a function of (seed, minute, id, version); syncing a changed
  * row bumps the cell's version, so the last-write-wins state is the
  * version array alone. Values are whole cents, so sums and equality are
  * exact in both Spark and plain Scala. */
final case class Series(seed: Long, ids: Int, capacityMinutes: Int) {
  import Series._
  private val versions = new Array[Int](capacityMinutes * ids)
  /** Minutes [0, filled) hold rows; later minutes are not written yet. */
  var filled = 0

  def value(minute: Int, id: Int, version: Int): Double =
    Series.value(seed, minute, id, version)
  def version(minute: Int, id: Int): Int = versions(minute * ids + id - 1)
  def current(minute: Int, id: Int): Double = value(minute, id, version(minute, id))
  def ts(minute: Int): LocalDateTime = Base.plusMinutes(minute.toLong)

  /** Extend the series by `minutes` fresh minutes, version 0. */
  def grow(minutes: Int): Range = {
    require(filled + minutes <= capacityMinutes, "series capacity exceeded")
    val r = filled until filled + minutes
    filled += minutes
    r
  }

  def bump(minute: Int, id: Int): Unit = versions(minute * ids + id - 1) += 1

  /** Content digest of the live rows (all filled minutes × ids). */
  def digest: String = {
    val d = new Gen.Digest
    var m = 0
    while (m < filled) {
      var id = 1
      while (id <= ids) { d.add(rowHash(m, id, current(m, id))); id += 1 }
      m += 1
    }
    d.value
  }

  def rows: Long = filled.toLong * ids

  /** One incremental batch: `fresh` new minutes plus the already-synced
    * `back` minutes before them, in which each row changes with
    * probability `changeP`. Returns the rows and the expected
    * (inserted, updated) counts, and advances the state. */
  def nextBatch(step: Int, fresh: Int, back: Int, changeP: Double): Batch = {
    val out = ArrayBuffer.empty[(Int, Int, Double)]
    var changed = 0
    val from = math.max(0, filled - back)
    for (m <- from until filled; id <- 1 to ids) {
      if (Gen.unit(Gen.mix(seed, 0x5eedL + step, m.toLong, id.toLong)) < changeP) {
        bump(m, id); changed += 1
      }
      out += ((m, id, current(m, id)))
    }
    for (m <- grow(fresh); id <- 1 to ids) out += ((m, id, current(m, id)))
    Batch(out.toVector, inserted = fresh.toLong * ids, updated = changed.toLong)
  }
}

object Series {
  val Base: LocalDateTime = LocalDateTime.of(2024, 1, 1, 0, 0)
  def value(seed: Long, minute: Int, id: Int, version: Int): Double =
    ((Gen.mix(seed, minute.toLong, id.toLong, version.toLong) >>> 1) % 10000000L) / 100.0
  def rowHash(minute: Int, id: Int, v: Double): Long =
    Gen.mix(minute.toLong, id.toLong, java.lang.Double.doubleToLongBits(v))
}

/** `rows` as (minute, id, val); `inserted`/`updated` are what a diff-mode
  * sync of the batch must report. */
final case class Batch(rows: Vector[(Int, Int, Double)], inserted: Long, updated: Long)

/** Synthetic documents for the near-duplicate workload. Words come from a
  * skewed draw over a large synthetic vocabulary, so unrelated documents
  * share few 3-word shingles; a seeded share of each batch are near-copies
  * of another document of the same batch with a few words replaced. */
final case class Docs(seed: Long, perBatch: Int, copyShare: Double) {
  private val (minWords, maxWords) = (80, 120)
  private val Vocab = 20000
  private val Syll = Array("ka", "lo", "mi", "ru", "te", "sa", "no", "vi", "pe", "zu",
    "da", "fo", "gi", "he", "ju", "bo", "ce", "wa", "xi", "yo")

  def word(i: Int): String = {
    val sb = new StringBuilder
    var x = i + Vocab
    while (x > 0) { sb.append(Syll(x % Syll.length)); x /= Syll.length }
    sb.toString
  }

  private def draw(h: Long): Int = {
    val u = Gen.unit(h)
    (u * u * Vocab).toInt
  }

  /** Batch `b`: (id, text) documents and the planted (source, copy) pairs,
    * ids unique across batches. */
  def batch(b: Int): (Vector[(Long, String)], Vector[(Long, Long)]) = {
    val base = b.toLong * 1000000L
    val words = ArrayBuffer.empty[Array[String]]
    val planted = ArrayBuffer.empty[(Long, Long)]
    val sources = scala.collection.mutable.HashSet.empty[Int]
    for (i <- 0 until perBatch) {
      val h = Gen.mix(seed, b.toLong, i.toLong)
      val src = Gen.below(Gen.mix(h, 1L), math.max(1, i).toLong)
      val copy = i > 0 && Gen.unit(Gen.mix(h, 2L)) < copyShare &&
        !sources.contains(src) && !planted.exists(_._2 == base + src)
      if (copy) {
        // 1-2 single-word substitutions keep the shingle Jaccard near 0.9
        val w = words(src).clone()
        val edits = 1 + Gen.below(Gen.mix(h, 3L), 2)
        for (e <- 0 until edits) {
          val pos = Gen.below(Gen.mix(h, 4L + e), w.length.toLong)
          w(pos) = word(draw(Gen.mix(h, 8L + e)))
        }
        words += w
        sources += src
        planted += ((base + src, base + i))
      } else {
        val n = minWords + Gen.below(h, (maxWords - minWords + 1).toLong)
        words += Array.tabulate(n)(j => word(draw(Gen.mix(h, 16L + j))))
      }
    }
    (words.zipWithIndex.map { case (w, i) => (base + i, w.mkString(" ")) }.toVector,
      planted.toVector)
  }
}

object Shingles {
  /** The engine's shingle definition: whitespace tokens of the trimmed
    * text, joined in runs of `n` by one space; texts shorter than `n`
    * have none. */
  def of(text: String, n: Int): Set[String] = {
    val t = text.trim.split("\\s+")
    if (t.length < n) Set.empty else t.sliding(n).map(_.mkString(" ")).toSet
  }
  def jaccard(a: Set[String], b: Set[String]): Double =
    if (a.isEmpty && b.isEmpty) 0.0
    else a.intersect(b).size.toDouble / a.union(b).size.toDouble
}
