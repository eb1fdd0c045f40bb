package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import graft.bio.Matrices

/** Seeded synthetic homolog corpus with planted ground truth.
  *
  * Each family has one ancestor: either a random sequence drawn at the
  * BLOSUM62 background frequencies, or one of the bundled Cas7-11 proteins.
  * Members are evolved from the ancestor by substitution down to an
  * identity inside one of three buckets (30-50, 50-70, 70-90 %),
  * plus ~1.5 % short indels. As in real families, the rate of change
  * varies along the sequence: each family draws segments of 5-20 residues
  * with gamma-distributed rates (shape 0.5), shared by its members, so
  * conserved stretches survive at low identity. A substituted residue `a`
  * becomes `b` with BLOSUM62's conditional probability P(b|a). Members
  * thus keep the similar k-mers that real homologs of that identity share.
  * Ancestors are the queries; members and unrelated background decoys are
  * the targets. A share of the targets is held out as an append batch.
  *
  * Files written under `dir`: `queries.fa`, `db.fa`, `append.fa` and
  * `truth.tsv` (query, target, bucket, part) listing every planted pair.
  * The same seed and spec give byte-identical files.
  */
object Corpus {

  final case class Spec(
      families: Int, // random-ancestor families
      casFamilies: Int, // extra families rooted at bundled Cas7-11 proteins
      membersPerBucket: Int, // members per family per identity bucket
      decoys: Int, // unrelated background targets
      appendShare: Double, // share of targets held out as the append batch
      minLen: Int,
      maxLen: Int)

  val Buckets: Seq[(String, Double, Double)] =
    Seq(("30-50", 0.30, 0.50), ("50-70", 0.50, 0.70), ("70-90", 0.70, 0.90))
  val LowIdBucket = "30-50"

  private val IndelRate = 0.015
  private val RateShape = 0.5

  final case class Generated(queries: String, db: String, append: String,
      truth: String, dbResidues: Long, appendResidues: Long, appendBytes: Long)

  private val m = Matrices.blosum62
  // residue alphabet without X, with its cumulative background distribution
  private val residues: Array[Char] = m.alphabet.dropRight(1).toArray
  private val cumulative: Array[Double] = {
    val p = m.pBack.dropRight(1)
    val total = p.sum
    p.scanLeft(0.0)(_ + _).tail.map(_ / total)
  }

  private def residue(rnd: SplittableRandom): Char = {
    val u = rnd.nextDouble()
    var i = 0
    while (i < cumulative.length - 1 && u >= cumulative(i)) i += 1
    residues(i)
  }

  // per residue a: cumulative P(b|a) = probRatio(a)(b) * pBack(b) over the
  // residues b != a
  private val substitutes: Array[Array[Double]] =
    Array.tabulate(residues.length) { a =>
      val p = Array.tabulate(residues.length)(b =>
        if (b == a) 0.0 else m.probRatio(a)(b) * m.pBack(b))
      val total = p.sum
      p.scanLeft(0.0)(_ + _).tail.map(_ / total)
    }

  /** A residue other than `c`, drawn with BLOSUM62's P(b|c). */
  private def substitute(rnd: SplittableRandom, c: Char): Char = {
    val a = residues.indexOf(c)
    if (a < 0) return residue(rnd)
    val cum = substitutes(a)
    val u = rnd.nextDouble()
    var i = 0
    while (i < cum.length - 1 && (u >= cum(i) || i == a)) i += 1
    residues(i)
  }

  private def randomSeq(rnd: SplittableRandom, len: Int): String = {
    val sb = new java.lang.StringBuilder(len)
    var i = 0
    while (i < len) { sb.append(residue(rnd)); i += 1 }
    sb.toString
  }

  /** A Gamma(shape, 1) variate, by Marsaglia and Tsang. Only the rates'
    * relative sizes matter: `evolve` scales them to the target identity.
    */
  private def gamma(rnd: SplittableRandom, shape: Double): Double = {
    if (shape < 1) return gamma(rnd, shape + 1) * math.pow(rnd.nextDouble(), 1 / shape)
    val d = shape - 1.0 / 3
    val c = 1 / math.sqrt(9 * d)
    while (true) {
      val x = math.sqrt(-2 * math.log(1 - rnd.nextDouble())) *
        math.cos(2 * math.Pi * rnd.nextDouble())
      val v = math.pow(1 + c * x, 3)
      if (v > 0 && math.log(1 - rnd.nextDouble()) < x * x / 2 + d - d * v + d * math.log(v))
        return d * v
    }
    0.0
  }

  /** Per-site rates of change: segments of 5-20 sites share one
    * gamma-distributed rate.
    */
  private def siteRates(rnd: SplittableRandom, len: Int): Array[Double] = {
    val rates = new Array[Double](len)
    var i = 0
    while (i < len) {
      val r = gamma(rnd, RateShape)
      val end = math.min(len, i + 5 + rnd.nextInt(16))
      while (i < end) { rates(i) = r; i += 1 }
    }
    rates
  }

  /** Substitute position i with probability 1 - exp(-t * rates(i)), with t
    * set so that the expected identity is `identity`, by a different
    * residue drawn with P(b|a); insert or delete short runs at IndelRate.
    */
  private def evolve(rnd: SplittableRandom, anc: String, rates: Array[Double],
      identity: Double): String = {
    def diverged(t: Double) = {
      var sum = 0.0
      var i = 0
      while (i < rates.length) { sum += 1 - math.exp(-t * rates(i)); i += 1 }
      sum / rates.length
    }
    var lo = 0.0
    var hi = 1000.0
    for (_ <- 0 until 40) {
      val mid = (lo + hi) / 2
      if (diverged(mid) < 1 - identity) lo = mid else hi = mid
    }
    val sb = new java.lang.StringBuilder(anc.length + 16)
    var i = 0
    while (i < anc.length) {
      val u = rnd.nextDouble()
      if (u < IndelRate / 2) {
        i += 1 + rnd.nextInt(3) // deletion of 1-3 residues
      } else {
        if (u < IndelRate) { // insertion of 1-3 residues before this one
          var n = 1 + rnd.nextInt(3)
          while (n > 0) { sb.append(residue(rnd)); n -= 1 }
        }
        val c = anc.charAt(i)
        if (rnd.nextDouble() < 1 - math.exp(-lo * rates(i))) sb.append(substitute(rnd, c))
        else sb.append(c)
        i += 1
      }
    }
    sb.toString
  }

  /** The bundled Cas7-11 MSA, degapped: (name, sequence). */
  def casSequences(): Seq[(String, String)] = {
    val in = getClass.getResourceAsStream("/MSA_Cas7-11_multiline.fa")
    require(in != null, "MSA_Cas7-11_multiline.fa is not on the classpath")
    val text = try new String(in.readAllBytes(), UTF_8) finally in.close()
    text.split(">").toSeq.filter(_.trim.nonEmpty).map { rec =>
      val lines = rec.split("\n")
      val name = lines.head.trim.split("\\s+").head
      name -> lines.tail.mkString.replaceAll("[-.\\s]", "")
    }
  }

  private def writeFasta(path: Path, recs: Seq[(String, String)]): Long = {
    val sb = new java.lang.StringBuilder
    recs.foreach { case (name, seq) =>
      sb.append('>').append(name).append('\n')
      seq.grouped(60).foreach(l => sb.append(l).append('\n'))
    }
    val bytes = sb.toString.getBytes(UTF_8)
    Files.write(path, bytes)
    bytes.length.toLong
  }

  def generate(seed: Long, spec: Spec, dir: Path): Generated = {
    Files.createDirectories(dir)
    val rnd = new SplittableRandom(seed)
    val cas = casSequences().take(spec.casFamilies)
    val ancestors: Seq[(String, String)] =
      (0 until spec.families).map { f =>
        f"q$f%05d" -> randomSeq(rnd, spec.minLen + rnd.nextInt(spec.maxLen - spec.minLen + 1))
      } ++ cas.map { case (name, seq) => s"q_$name" -> seq }
    // identities spread evenly over each bucket (golden-ratio sequence from
    // a seeded start), so recall varies little from seed to seed
    val start = rnd.nextDouble()
    var k = 0
    // (target name, seq, Some(query, bucket) for planted members)
    val members = ancestors.zipWithIndex.flatMap { case ((qname, anc), f) =>
      val rates = siteRates(rnd, anc.length)
      Buckets.flatMap { case (bucket, lo, hi) =>
        (0 until spec.membersPerBucket).map { j =>
          k += 1
          val u = start + k * 0.6180339887498949
          val id = lo + (hi - lo) * (u - math.floor(u))
          (f"f$f%05d_${bucket.take(2)}_$j", evolve(rnd, anc, rates, id), Some((qname, bucket)))
        }
      }
    }
    val decoys = (0 until spec.decoys).map { i =>
      (f"d$i%06d", randomSeq(rnd, spec.minLen + rnd.nextInt(spec.maxLen - spec.minLen + 1)),
        Option.empty[(String, String)])
    }
    // shuffle targets so planted members and decoys interleave on disk
    val targets = (members ++ decoys).toArray
    var i = targets.length - 1
    while (i > 0) {
      val j = rnd.nextInt(i + 1)
      val t = targets(i); targets(i) = targets(j); targets(j) = t
      i -= 1
    }
    val nAppend = math.round(targets.length * spec.appendShare).toInt
    val (dbPart, appendPart) = targets.splitAt(targets.length - nAppend)
    writeFasta(dir.resolve("queries.fa"), ancestors)
    writeFasta(dir.resolve("db.fa"), dbPart.map(t => t._1 -> t._2).toSeq)
    val appendBytes =
      writeFasta(dir.resolve("append.fa"), appendPart.map(t => t._1 -> t._2).toSeq)
    val truth = new java.lang.StringBuilder
    Seq("db" -> dbPart, "append" -> appendPart).foreach { case (part, ts) =>
      ts.foreach {
        case (tname, _, Some((qname, bucket))) =>
          truth.append(s"$qname\t$tname\t$bucket\t$part\n")
        case _ =>
      }
    }
    Files.write(dir.resolve("truth.tsv"), truth.toString.getBytes(UTF_8))
    Generated(dir.resolve("queries.fa").toString, dir.resolve("db.fa").toString,
      dir.resolve("append.fa").toString, dir.resolve("truth.tsv").toString,
      dbPart.map(_._2.length.toLong).sum, appendPart.map(_._2.length.toLong).sum,
      appendBytes)
  }

  /** SHA-256 over the generated files, in a fixed order. */
  def digest(dir: Path): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    Seq("queries.fa", "db.fa", "append.fa", "truth.tsv")
      .foreach(f => md.update(Files.readAllBytes(dir.resolve(f))))
    md.digest().map("%02x".format(_)).mkString
  }

  /** Self-test: the same seed gives byte-identical files, another seed does
    * not. Generates three small corpora under `dir`.
    */
  def selfTest(dir: Path, seed: Long): Boolean = {
    val spec = Spec(families = 20, casFamilies = 2, membersPerBucket = 2,
      decoys = 50, appendShare = 0.1, minLen = 100, maxLen = 300)
    def run(name: String, s: Long): String = {
      generate(s, spec, dir.resolve(name))
      digest(dir.resolve(name))
    }
    val a = run("a", seed)
    a == run("b", seed) && a != run("c", seed + 1)
  }

  /** Usage: `perfbench.Corpus <scratchDir> [seed]`; exits 1 when the
    * self-test fails.
    */
  def main(args: Array[String]): Unit = {
    val dir = java.nio.file.Paths.get(args.headOption.getOrElse("corpus-selftest"))
    val ok = selfTest(dir, args.lift(1).map(_.toLong).getOrElse(1L))
    println(s"corpus self-test: ${if (ok) "passed" else "FAILED"}")
    if (!ok) sys.exit(1)
  }
}
