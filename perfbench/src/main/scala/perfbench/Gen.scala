package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import java.util.SplittableRandom

import scala.collection.mutable

/** Seeded input generators with planted duplicates.
  *
  * Every generator is a pure function of its seed: the same seed gives
  * byte-identical rows (checked through [[Gen.digest]]), and the planted
  * clusters are the answer key the checks compare against. Random
  * 256-bit hashes lie about 128 bits apart (a pair within 51 bits has
  * probability about 1e-21), so the only near pairs are planted ones.
  */
object Gen {

  // ---------------------------------------------------------------- hashes

  type Words = Array[Long] // 256-bit hash as four big-endian 64-bit words

  def randomWords(r: SplittableRandom): Words = Array.fill(4)(r.nextLong())

  def hex(w: Words): String = {
    val sb = new java.lang.StringBuilder(64)
    w.foreach { x =>
      val h = java.lang.Long.toHexString(x)
      var pad = 16 - h.length
      while (pad > 0) { sb.append('0'); pad -= 1 }
      sb.append(h)
    }
    sb.toString
  }

  def dist(a: Words, b: Words): Int = {
    var d = 0
    var i = 0
    while (i < a.length) { d += java.lang.Long.bitCount(a(i) ^ b(i)); i += 1 }
    d
  }

  /** `w` with `k` distinct random bits flipped. */
  def flip(r: SplittableRandom, w: Words, k: Int): Words = {
    val out = w.clone()
    val bits = mutable.LinkedHashSet.empty[Int]
    while (bits.size < k) bits += r.nextInt(w.length * 64)
    bits.foreach(b => out(b / 64) ^= 1L << (b % 64))
    out
  }

  def shuffle[T](r: SplittableRandom, a: Array[T]): Unit = {
    var i = a.length - 1
    while (i > 0) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
  }

  /** SHA-256 over a canonical serialization of the rows, hex-encoded. */
  def digest(fields: Iterator[String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    fields.foreach { f =>
      if (f == null) md.update(0.toByte) else { md.update(1.toByte); md.update(f.getBytes(UTF_8)) }
      md.update(0x1f.toByte)
    }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  // ------------------------------------------------------- index corpora

  /** A corpus of (index, url, pdq_hash) rows. `url` is null when the
    * workload carries no url column. Cluster and group members are row
    * positions; `index(i)` sorts in position order. */
  final case class Corpus(
      index: Array[String],
      url: Array[String],
      hash: Array[Words],
      pdqClusters: Array[Array[Int]],
      urlGroups: Array[Array[Int]]
  ) {
    def rows: Int = index.length
    lazy val hashHex: Array[String] = hash.map(hex)
    def hasUrl: Boolean = url != null
    def digest: String = Gen.digest(Iterator.range(0, rows).flatMap(i =>
      Iterator(index(i), if (hasUrl) url(i) else null, hashHex(i))))
    def sizes: Map[String, Long] = Map(
      "rows" -> rows.toLong,
      "distinct_hashes" -> hashHex.distinct.length.toLong,
      "pdq_clusters" -> pdqClusters.length.toLong,
      "url_groups" -> urlGroups.length.toLong)
  }

  /** Corpus shape: `rows` rows; PDQ clusters of the given sizes whose
    * members are the cluster centre with 0..`maxFlips` random bits
    * flipped (so member pairs lie within 2·maxFlips bits, straddling the
    * radius when 2·maxFlips exceeds it); url groups of the given sizes
    * whose members spell one base url with scheme, case and fragment
    * variants. Rows outside any group get a unique url and a random hash.
    *
    * With `sharedVariant` a cluster holds only two hashes, as in the
    * flagship `detect_full` query: its centre, and the centre with
    * `maxFlips` bits flipped, which a fifth of the members carry. */
  final case class Shape(
      rows: Int,
      pdqClusterSizes: Seq[Int],
      maxFlips: Int,
      urlGroupSizes: Seq[Int],
      withUrl: Boolean,
      sharedVariant: Boolean = false
  )

  def corpus(seed: Long, salt: Long, s: Shape): Corpus = {
    val r = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + salt)
    require(s.pdqClusterSizes.sum <= s.rows && s.urlGroupSizes.sum <= s.rows)
    val pos = Array.range(0, s.rows)
    shuffle(r, pos)
    val hash = Array.fill(s.rows)(randomWords(r))
    var next = 0
    val pdqClusters = s.pdqClusterSizes.map { k =>
      val members = pos.slice(next, next + k); next += k
      val centre = randomWords(r)
      if (s.sharedVariant) {
        val variant = flip(r, centre, s.maxFlips)
        members.foreach(m => hash(m) = if (r.nextInt(5) == 0) variant else centre)
      } else members.foreach(m => hash(m) = flip(r, centre, r.nextInt(s.maxFlips + 1)))
      members.sorted
    }.toArray
    val url = if (!s.withUrl) null else Array.tabulate(s.rows)(i => variant(r, s"u$i.example.org/p/${r.nextInt(1 << 30)}"))
    val urlGroups = if (!s.withUrl) Array.empty[Array[Int]] else {
      shuffle(r, pos) // url groups are independent of pdq clusters
      next = 0
      s.urlGroupSizes.zipWithIndex.map { case (k, g) =>
        val members = pos.slice(next, next + k); next += k
        val base = s"g$g.example.com/a/${r.nextInt(1 << 30)}/index.html?q=$g"
        members.foreach(m => url(m) = variant(r, base))
        members.sorted
      }.toArray
    }
    Corpus(Array.tabulate(s.rows)(i => f"r$i%07d"), url, hash, pdqClusters, urlGroups)
  }

  private val Schemes = Array("http://", "https://", "HTTP://", "Https://", "")

  /** One spelling of `base` that normalizes back to it: a random scheme,
    * random upper-casing and an optional fragment. */
  private def variant(r: SplittableRandom, base: String): String = {
    val sb = new StringBuilder(Schemes(r.nextInt(Schemes.length)))
    base.foreach(c => sb.append(if (r.nextInt(4) == 0) c.toUpper else c))
    if (r.nextBoolean()) sb.append("#frag").append(r.nextInt(1000))
    sb.toString
  }

  /** Ordered PDQ pairs (a, b, distance) with distance <= radius among the
    * planted clusters — every near pair the corpus contains. */
  def pdqPairs(c: Corpus, radius: Int): Iterator[(Int, Int, Int)] =
    c.pdqClusters.iterator.flatMap(m => for {
      a <- m.iterator; b <- m.iterator if a != b
      d = dist(c.hash(a), c.hash(b)) if d <= radius
    } yield (a, b, d))

  // ------------------------------------------------------------ documents

  /** Text corpus: `n` documents of 70..90 words drawn from a 5,000-word
    * vocabulary; a `nearDupShare` of them copy an earlier document with
    * one word replaced. */
  final case class Docs(id: Array[Long], text: Array[String]) {
    def digest: String = Gen.digest(Iterator.range(0, id.length).flatMap(i =>
      Iterator(id(i).toString, text(i))))
  }

  def docs(seed: Long, salt: Long, n: Int, nearDupShare: Double): Docs = {
    val r = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + salt)
    val vocab = Array.fill(5000)(Iterator.fill(3 + r.nextInt(7))(('a' + r.nextInt(26)).toChar).mkString)
    val words = new Array[Array[Int]](n)
    for (i <- 0 until n) {
      words(i) =
        if (i > 0 && r.nextDouble() < nearDupShare) {
          val w = words(r.nextInt(i)).clone()
          val at = r.nextInt(w.length)
          var v = r.nextInt(vocab.length)
          while (v == w(at)) v = r.nextInt(vocab.length)
          w(at) = v
          w
        } else Array.fill(70 + r.nextInt(21))(r.nextInt(vocab.length))
    }
    Docs(Array.tabulate(n)(_.toLong), words.map(_.map(vocab).mkString(" ")))
  }
}
