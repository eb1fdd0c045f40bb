package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.bio.{Align, Fasta, KmerIndex, PetaSearch, Prefilter}

/** One benchmark run: one workload, one seed, one JVM and one Spark
  * session on local[4], driven as a closed loop by a single client.
  *
  * Usage: `perfbench.Main <workload> <seed> <seconds> <trace 0|1> <workDir>`
  * from the repository root. Writes `<workDir>/result.json`, which `run.py`
  * prints.
  *
  * After the golden Cas7-11 check, set-up generates the seeded homolog
  * corpus, builds the target DB from 90 % of the targets and generates the
  * generic operators' tables. The other 10 % of the targets is then
  * appended, and the query batches run FASTA to m8 in a closed loop, each
  * checked. Last, the operator mix (one registry query per generic module)
  * runs in a session of its own, so the session tuning its table loads
  * apply cannot reach the search's plans.
  *
  * With trace 0 it reports the end-to-end metrics. With trace 1 the set-up,
  * the append, every second search and the operator mix call each layer
  * inside a span whose output is materialised (`cache()` + `count()`), so
  * each stage's time lands in its own span, and it reports the per-layer
  * metrics.
  */
object Main {

  /** Workload shape: the homolog corpus, the query batches it is split
    * into, and the operator tables.
    */
  final case class Shape(spec: Corpus.Spec, batches: Int, ops: OpsCorpus.Spec)

  val Ops = OpsCorpus.Spec(events = 10000, documents = 500, embeddings = 500)

  // Many planted homologs per query: query-table expansion and the gapped
  // cascade do most of the work.
  val HomologRich = Shape(Corpus.Spec(families = 60, casFamilies = 8,
    membersPerBucket = 5, decoys = 300, appendShare = 0.1,
    minLen = 150, maxLen = 450), batches = 4, Ops)
  // Few queries against a large, mostly-decoy DB: the index scan and the
  // broadcast join dominate and few pairs reach the aligner.
  val SparseLarge = Shape(Corpus.Spec(families = 50, casFamilies = 0,
    membersPerBucket = 3, decoys = 4000, appendShare = 0.1,
    minLen = 150, maxLen = 450), batches = 4, Ops)
  // A few seconds of every code path, run once by the build to record
  // which classes to share between the benchmark's JVMs.
  val Training = Shape(Corpus.Spec(families = 8, casFamilies = 1,
    membersPerBucket = 1, decoys = 40, appendShare = 0.1,
    minLen = 150, maxLen = 450), batches = 2,
    OpsCorpus.Spec(events = 1000, documents = 100, embeddings = 100))

  /** The operator mix: (module, registry query), one query per generic
    * module. Each is among the module's queries that ran shortest in a
    * first pass, so that one pass (about 15 s on 4 cores) fits a run.
    * Dedup's near-duplicate pairing runs inside graph_pagerank.
    */
  val OpsMix: Seq[(String, String)] = Seq(
    "relational.Scd2" -> "q32_scd2",
    "ops.Dedup" -> "dedup_exact",
    "ops.TextAnalysis" -> "text_bm25",
    "ops.Similarity" -> "emb_cosine_topk",
    "ops.Graph" -> "graph_pagerank",
    "sources.Versioned" -> "src_versioned_mor",
    "sources.ZoneMap" -> "src_zonemap_range",
    "bio.tabular" -> "bio_m8_relational")
  val OpsModules: Seq[String] = OpsMix.map(_._1).distinct

  def main(args: Array[String]): Unit = {
    val Array(workload, seed, seconds, trace, workDir) = args
    new Run(workload, seed.toLong, seconds.toDouble, trace == "1",
      Paths.get(workDir).toAbsolutePath).execute()
  }
}

final class Run(workload: String, seed: Long, seconds: Double, trace: Boolean,
    work: Path) {
  import Main._

  private val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName(s"perfbench-$workload")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.codegen.cache.maxEntries", "5000")
    .config("spark.local.dir", work.resolve("spark-local").toString)
    .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
    .getOrCreate()
  spark.sparkContext.setLogLevel("ERROR")

  private val cost: Option[SparkCost] =
    if (trace) Some(new SparkCost(spark.sparkContext)) else None
  private val params = PetaSearch.Params()

  private var attempted = 0L
  private var failed = 0L
  private val failures = mutable.ArrayBuffer.empty[String]
  /** metric name -> (value, unit) */
  private val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
  private val layers = mutable.LinkedHashMap.empty[String, (Double, String)]
  private val report = mutable.LinkedHashMap.empty[String, (Double, String)]
  private val notes = mutable.ArrayBuffer.empty[String]
  private def note(n: String): Unit = { notes += n; System.err.println(s"[perfbench] $n") }

  private def check(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) { failed += 1; if (failures.size < 20) failures += what }
  }

  // ------------------------------------------------------------- tracing

  /** Spans are taken only while `tracing`; each is tagged with `phase`
    * ("op", "setup" or "append") so per-layer figures are per operation of
    * the phase the layer ran in.
    */
  private var tracing = false
  private var phase = "op"
  private val tagged = mutable.ArrayBuffer.empty[(String, SparkCost#Span)]
  private val phaseUnits = mutable.HashMap.empty[String, Int].withDefaultValue(0)
  /** Counters recorded at span boundaries, per phase. */
  private val counts = mutable.HashMap.empty[(String, String), Double].withDefaultValue(0.0)

  private def span[T](name: String)(body: => T): T =
    cost.filter(_ => tracing).fold(body) { c =>
      val out = c.span(name)(body)
      tagged += ((phase, c.spans.last))
      out
    }

  private def tally(name: String, v: Double): Unit = counts((phase, name)) += v

  private def inPhase[T](p: String)(body: => T): T = {
    val prev = phase
    phase = p
    try body finally phase = prev
  }

  // -------------------------------------------------------------- helpers

  private def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val out = body
    (out, (System.nanoTime() - t0) / 1e9)
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest percentile with at least ten samples beyond it (the
    * 11th-largest sample); the maximum when there are ten or fewer.
    */
  private def tail(xs: Seq[Double]): (Double, Double) = {
    val s = xs.sorted
    if (s.size <= 10) (s.last, 100.0)
    else (s(s.size - 11), 100.0 * (s.size - 10) / s.size)
  }

  /** Run `op` as a closed loop for `secs` seconds, and at least `minOps`
    * times; returns the per-op wall times.
    */
  private def loop(secs: Double, minOps: Int)(op: Int => Double): Seq[Double] = {
    val out = mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    while (out.size < minOps || (System.nanoTime() - t0) / 1e9 < secs)
      out += op(out.size)
    out.toSeq
  }

  private def files(p: Path): Seq[Path] =
    if (!Files.exists(p)) Nil
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).toSeq

  /** Bytes on disk under `p`, without Hadoop's .crc side files. */
  private def dirBytes(p: Path): Long =
    files(p).filterNot(_.getFileName.toString.endsWith(".crc")).map(Files.size).sum

  private def loadAvg: Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  private def peakRssMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  // --------------------------------------------------------------- checks

  /** The m8 files of a search, in part order, split into fields. */
  private def readM8(dir: Path): Seq[Array[String]] =
    Files.list(dir).iterator().asScala.toSeq
      .filter(_.getFileName.toString.startsWith("part-")).sortBy(_.toString)
      .flatMap(f => Files.readAllLines(f, UTF_8).asScala)
      .filter(_.nonEmpty).map(_.split("\t", -1))

  /** m8 validity: 12 columns, e-value within the threshold, rows ordered by
    * (query in input order, e-value ascending, bits descending).
    */
  private def checkM8(rows: Seq[Array[String]], queryOrder: Map[String, Int],
      what: String): Unit = {
    val wide = rows.forall(_.length == 12)
    check(wide, s"$what: m8 row without 12 columns")
    if (wide) {
      val keys = rows.map(r => (queryOrder.getOrElse(r(0), -1), r(10).toDouble, r(11).toInt))
      check(keys.forall(_._1 >= 0), s"$what: m8 names an unknown query")
      check(keys.forall(_._2 <= Align.DefaultEvalThr),
        s"$what: m8 e-value above ${Align.DefaultEvalThr}")
      check(keys.zip(keys.drop(1)).forall { case ((q1, e1, b1), (q2, e2, b2)) =>
        q1 < q2 || (q1 == q2 && (e1 < e2 || (e1 == e2 && b1 >= b2)))
      }, s"$what: m8 rows out of (query, e-value, bits) order")
    }
  }

  /** Planted pairs: (query, target, bucket, part). */
  private def readTruth(path: String): Seq[Array[String]] =
    Files.readAllLines(Paths.get(path), UTF_8).asScala.toSeq
      .filter(_.nonEmpty).map(_.split("\t"))

  /** Recall of the planted pairs, overall and per identity bucket. */
  private def scoreRecall(truth: Seq[Array[String]], found: Set[(String, String)]): Unit = {
    check(truth.nonEmpty, "no planted pairs to score")
    val hit = truth.filter(r => found((r(0), r(1))))
    val r = hit.size.toDouble / math.max(truth.size, 1)
    e2e("recall") = (r, "share")
    Corpus.Buckets.foreach { case (b, _, _) =>
      val v = hit.count(_(2) == b).toDouble / math.max(truth.count(_(2) == b), 1)
      if (b == Corpus.LowIdBucket) report("recall_lowid") = (v, "share")
      layers(s"recall.bucket_$b") = (v, "share")
    }
    note(s"recall: ${hit.size} of ${truth.size} planted pairs")
  }

  /** Cas7-11 self-search through the user-facing entry point must equal
    * the frozen golden hit set (query, target, bits). Runs once, untimed.
    */
  private def goldenCheck(): Unit = {
    val fa = work.resolve("cas711.fa")
    Files.write(fa, Corpus.casSequences().map { case (n, s) => s">$n\n$s\n" }
      .mkString.getBytes(UTF_8))
    val expected = Files.readAllLines(Paths.get("src/test/resources/golden_selfsearch.tsv"),
      UTF_8).asScala.filter(_.nonEmpty).toSet
    val got = PetaSearch.easySearch(spark, fa.toString, fa.toString)
      .select("qname", "tname", "bits").collect()
      .map(r => s"${r.getString(0)}\t${r.getString(1)}\t${r.getInt(2)}").toSet
    spark.catalog.clearCache()
    check(got == expected, "Cas7-11 self-search differs from the golden hit set: " +
      s"${(expected -- got).size} missing, ${(got -- expected).size} extra")
  }

  // ----------------------------------------------------------- bio layers

  /** `PetaSearch.buildTargetDb`; traced, its layer calls one by one in the
    * same order, each materialised inside its span.
    */
  private def buildDb(fasta: String, db: String): Unit =
    if (!tracing) PetaSearch.buildTargetDb(spark, fasta, db, params)
    else {
      val seqs = span("Fasta.read") {
        val s = Fasta.read(spark, fasta).cache()
        tally("Fasta.residues", s.agg(sum("seqLen")).head().getLong(0).toDouble)
        s
      }
      span("sequences.write")(seqs.write.mode("overwrite").parquet(s"$db/sequences"))
      val persisted = spark.read.parquet(s"$db/sequences")
      val index = span("KmerIndex.buildWithPos") {
        val i = KmerIndex.buildWithPos(persisted, params.k, params.mode.kmerAlphabet).cache()
        i.count()
        i
      }
      span("KmerIndex.write")(KmerIndex.write(index, s"$db/kmers"))
      span("meta.write")(persisted
        .agg(sum(col("seqLen")).as("dbResCount"), count(lit(1)).as("nSeqs"))
        .write.mode("overwrite").parquet(s"$db/meta"))
      spark.catalog.clearCache()
    }

  /** One query batch from FASTA to an m8 file on disk. */
  private def search(batch: String, db: String, out: String): Unit =
    if (!tracing) {
      val queries = Fasta.read(spark, batch).cache()
      val targets = spark.read.parquet(s"$db/sequences")
      val alis = PetaSearch.searchIndexed(spark, queries, db, params)
      PetaSearch.writeM8(PetaSearch.toM8(alis, queries, targets), out)
      spark.catalog.clearCache()
    } else {
      // the layer calls of PetaSearch.searchIndexed, in its order
      val queries = span("Fasta.read") {
        val q = Fasta.read(spark, batch).cache()
        tally("Fasta.residues", q.agg(sum("seqLen")).head().getLong(0).toDouble)
        q
      }
      val targets = spark.read.parquet(s"$db/sequences")
      val index = spark.read.parquet(s"$db/kmers")
      val dbRes = spark.read.parquet(s"$db/meta").head().getAs[Long]("dbResCount")
      val qk = span("QueryTable.build") {
        val t = PetaSearch.buildQueryTable(spark, queries, params).cache()
        tally("QueryTable.rows", t.count().toDouble)
        t
      }
      val pf = span("Prefilter.runWithDiag") {
        val p = Prefilter.runWithDiag(qk, index, params.requiredKmerMatches).cache()
        tally("Prefilter.hit_rows", p.count().toDouble)
        p
      }
      tally("Prefilter.pairs", pf.select("targetId", "queryId").distinct().count().toDouble)
      tally("Prefilter.index_bytes", dirBytes(Paths.get(db, "kmers")).toDouble)
      val alis = span("Align.run") {
        val a = Align.run(spark, pf, queries, targets, params.evalThr, params.xdrop,
          params.mode.gaps, params.mode.alignMatrix, params.mode.gumbel, params.k,
          knownDbResCount = Some(dbRes)).cache()
        tally("Align.alignments", a.count().toDouble)
        a
      }
      span("PetaSearch.m8")(PetaSearch.writeM8(PetaSearch.toM8(alis, queries, targets), out))
      spark.catalog.clearCache()
    }

  private def fastaNames(path: Path): Seq[String] =
    Files.readAllLines(path, UTF_8).asScala.toSeq.filter(_.startsWith(">"))
      .map(_.drop(1).trim.split("\\s+").head)

  /** Split a query FASTA into `n` batch files, round-robin by record. */
  private def splitBatches(queries: String, n: Int, dir: Path): Seq[(Path, Seq[String])] = {
    val recs = new String(Files.readAllBytes(Paths.get(queries)), UTF_8)
      .split(">").toSeq.filter(_.nonEmpty)
    (0 until n).map { b =>
      val p = dir.resolve(s"batch$b.fa")
      Files.write(p, recs.indices.filter(_ % n == b).map(">" + recs(_)).mkString.getBytes(UTF_8))
      (p, fastaNames(p))
    }
  }

  /** Append `append.fa` to the built DB; returns the append seconds and
    * records the bytes it wrote.
    */
  private def append(gen: Corpus.Generated, db: Path): Double = {
    val before = files(db).map(f => f -> Files.getLastModifiedTime(f)).toMap
    val (_, s) = inPhase("append")(time(span("PetaSearch.appendToTargetDb")(
      PetaSearch.appendToTargetDb(spark, gen.append, db.toString, params))))
    if (tracing) phaseUnits("append") += 1
    // bytes of every file the append created or rewrote
    val written = files(db).filterNot(_.getFileName.toString.endsWith(".crc"))
      .filter(f => !before.get(f).contains(Files.getLastModifiedTime(f)))
      .map(Files.size).sum.toDouble
    layers("PetaSearch.append_bytes_written") = (written, "B")
    layers("PetaSearch.append_write_amp") = (written / gen.appendBytes, "ratio")
    s
  }

  /** One pass over the operator mix, in a session of its own; every query
    * must return rows.
    */
  private def opsMix(dataDir: String): Unit = {
    val session = spark.newSession()
    if (tracing) phaseUnits("ops") += 1
    val total = OpsMix.map { case (module, name) =>
      val (n, s) = inPhase("ops")(time(span(module)(
        graft.Registry.byName(name).run(session, dataDir).count())))
      session.catalog.clearCache()
      check(n > 0, s"$name: no rows")
      note(f"$name $s%.3f s, $n rows")
      s
    }.sum
    e2e("ops_mix_s") = (total, "s")
  }

  /** The golden check; set-up (homolog corpus, DB build, operator tables);
    * the append; the closed loop over the query batches for `seconds`;
    * then the operator mix. With trace, traced and untraced searches
    * alternate and the gap between their means is reported as tracing
    * overhead.
    */
  private def runWorkload(shape: Shape): Unit = {
    // the golden check first also warms the build and search paths
    goldenCheck()
    check(Corpus.selfTest(work.resolve("corpus-selftest"), seed),
      "the same seed generated different corpus files")
    mark("golden check done")
    tracing = trace
    val dir = work.resolve("setup")
    val opsDir = dir.resolve("ops").toString
    val ((gen, db, batches, build), setupS) = inPhase("setup")(time {
      val gen = Corpus.generate(seed, shape.spec, dir.resolve("corpus"))
      val batches = splitBatches(gen.queries, shape.batches, dir.resolve("corpus"))
      val db = dir.resolve("db")
      val build = time(buildDb(gen.db, db.toString))._2
      span("OpsCorpus.generate")(OpsCorpus.generate(spark, seed, shape.ops, opsDir))
      (gen, db, batches, build)
    })
    if (tracing) phaseUnits("setup") += 1
    mark("set-up done")
    e2e("setup_s") = (setupS, "s")
    e2e("build_s") = (build, "s")
    e2e("append_s") = (append(gen, db), "s")
    tracing = false
    e2e("db_bytes_per_residue") = (Seq("sequences", "kmers", "meta")
      .map(d => dirBytes(db.resolve(d))).sum.toDouble /
      (gen.dbResidues + gen.appendResidues), "B")
    val first = mutable.HashMap.empty[Int, Set[(String, String)]]
    def op(i: Int): Double = {
      val b = i % batches.size
      val (path, names) = batches(b)
      val out = work.resolve(s"m8/b$b")
      val (_, s) = time(search(path.toString, db.toString, out.toString))
      val rows = readM8(out)
      checkM8(rows, names.zipWithIndex.toMap, s"batch $b")
      if (tracing) tally("PetaSearch.m8_rows", rows.size.toDouble)
      val pairs = rows.filter(_.length == 12).map(r => (r(0), r(1))).toSet
      first.get(b) match {
        case None => first(b) = pairs
        case Some(p) => check(p == pairs, s"batch $b: m8 differs between repeats")
      }
      s
    }
    if (!trace) {
      val ts = loop(seconds, batches.size)(op)
      val (t, pct) = tail(ts)
      e2e("search_s") = (median(ts), "s")
      report("search_s_tail") = (t, "s")
      note(f"search_s: n=${ts.size}, median ${median(ts)}%.4f s, " +
        (if (ts.size > 10) f"p$pct%.1f" else "max (no percentile has 10 samples beyond it)") +
        f" $t%.4f s; samples ${ts.map(x => f"$x%.3f").mkString(" ")}")
    } else {
      // untraced and traced searches alternate, so both meet the same JIT
      // warm-up; their outputs must agree too
      val plain = mutable.ArrayBuffer.empty[Double]
      val traced = mutable.ArrayBuffer.empty[Double]
      val t0 = System.nanoTime()
      var i = 0
      while (i < 2 * batches.size || (System.nanoTime() - t0) / 1e9 < seconds) {
        tracing = i % 2 == 1
        val s = op(i / 2)
        if (tracing) { traced += s; phaseUnits("op") += 1 } else plain += s
        i += 1
      }
      tracing = false
      val mean = (xs: Seq[Double]) => xs.sum / xs.size
      layers("trace.search_s") = (mean(traced.toSeq), "s")
      layers("trace.untraced_search_s") = (mean(plain.toSeq), "s")
      layers("trace.overhead_s") = (mean(traced.toSeq) - mean(plain.toSeq), "s")
      val kmers = spark.read.parquet(s"$db/kmers").count().toDouble
      val perKmer = dirBytes(db.resolve("kmers")) / math.max(kmers, 1.0)
      layers("KmerIndex.unique_kmers") = (kmers, "count")
      layers("KmerIndex.bytes_per_kmer") = (perKmer, "B")
      // the reference stores a 2 B k-mer delta and a 4 B id per k-mer
      note(f"index: $perKmer%.2f B per unique k-mer, ${perKmer / 6}%.2fx the reference's 6 B")
    }
    mark("loop done")
    scoreRecall(readTruth(gen.truth), first.values.flatten.toSet)
    tracing = trace
    opsMix(opsDir)
    tracing = false
    mark("operator mix done")
  }

  // ---------------------------------------------------------------- output

  private def esc(s: String): String =
    s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    }

  private def json(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"\"${esc(k)}\": $v" }.mkString("{", ", ", "}")

  private def metricsJson(m: Iterable[(String, (Double, String))]): String =
    json(m.toSeq.map { case (k, (v, u)) =>
      k -> json(Seq("value" -> (if (v.isNaN || v.isInfinite) "0" else v.toString),
        "unit" -> s"\"${esc(u)}\""))
    })

  /** Per-layer figures from the spans: per operation of the phase the
    * layer ran in, plus its Spark cost (`full`: jobs, executor and
    * driver-only time, shuffle bytes; otherwise jobs and driver-only time).
    */
  private def spanLayers(): Unit = {
    // (phase, span, metric prefix, full): the search stages per search,
    // the build stages per set-up, the append once, the operator modules
    // per pass
    val stages = Seq("Fasta.read", "QueryTable.build", "Prefilter.runWithDiag",
      "Align.run", "PetaSearch.m8").map(n => ("op", n, n, true)) ++
      Seq(("setup", "Fasta.read", "build.Fasta.read", true),
        ("setup", "sequences.write", "build.sequences.write", false),
        ("setup", "meta.write", "build.meta.write", false),
        ("setup", "KmerIndex.buildWithPos", "KmerIndex.buildWithPos", true),
        ("setup", "KmerIndex.write", "KmerIndex.write", true),
        ("setup", "OpsCorpus.generate", "OpsCorpus.generate", false),
        ("append", "PetaSearch.appendToTargetDb", "PetaSearch.appendToTargetDb", true)) ++
      OpsModules.map(n => ("ops", n, n, false))
    stages.foreach { case (p, n, key, full) =>
      val ss = tagged.collect { case (`p`, sp) if sp.name == n => sp }.toSeq
      val units = math.max(phaseUnits(p), 1).toDouble
      val secs = ss.map(_.wallS).sum
      layers(s"${key}_s") = (secs / units, "s")
      layers(s"$key.spark.jobs") = (ss.map(_.cost.jobs).sum / units, "count")
      layers(s"$key.spark.driver_only_s") = (ss.map(_.driverOnlyS).sum / units, "s")
      if (full) {
        layers(s"$key.spark.executor_run_s") = (ss.map(_.cost.executorRunMs).sum / 1000.0 / units, "s")
        layers(s"$key.spark.shuffle_write_bytes") = (ss.map(_.cost.shuffleWriteBytes).sum / units, "B")
        layers(s"$key.spark.shuffle_read_bytes") = (ss.map(_.cost.shuffleReadBytes).sum / units, "B")
      }
      if (n == "Fasta.read")
        layers(s"$key.residues_per_s") =
          (if (secs > 0) counts((p, "Fasta.residues")) / secs else 0.0, "1/s")
      if (n == "Prefilter.runWithDiag") {
        layers("Prefilter.index_bytes_read") = (ss.map(_.cost.inputBytes).sum / units, "B")
        // the reference's figure: index table bytes over prefilter seconds
        layers("Prefilter.index_gb_per_s") =
          (if (secs > 0) counts(("op", "Prefilter.index_bytes")) / 1e9 / secs else 0.0, "GB/s")
      }
    }
    // traced search time outside the stage spans: the benchmark's own
    // counting jobs and the index metadata read
    layers("trace.unspanned_s") = (layers.get("trace.search_s").fold(0.0)(_._1) -
      Seq("Fasta.read", "QueryTable.build", "Prefilter.runWithDiag", "Align.run",
        "PetaSearch.m8").map(n => layers(s"${n}_s")._1).sum, "s")
    val su = math.max(phaseUnits("op"), 1).toDouble
    def c(n: String) = counts(("op", n))
    layers("QueryTable.rows") = (c("QueryTable.rows") / su, "count")
    layers("Prefilter.hit_rows") = (c("Prefilter.hit_rows") / su, "count")
    layers("Prefilter.pairs") = (c("Prefilter.pairs") / su, "count")
    layers("Align.pairs_in") = (c("Prefilter.pairs") / su, "count")
    layers("Align.alignments") = (c("Align.alignments") / su, "count")
    layers("Align.pass_ratio") = (c("Align.alignments") / math.max(c("Prefilter.pairs"), 1.0), "ratio")
    layers("PetaSearch.m8_rows") = (c("PetaSearch.m8_rows") / su, "count")
    // whole-operation Spark cost: per search, and per operator-mix pass
    Seq("op" -> "spark", "ops" -> "ops_mix.spark").foreach { case (p, key) =>
      val ops = tagged.filter(_._1 == p).map(_._2)
      val u = math.max(phaseUnits(p), 1).toDouble
      layers(s"$key.jobs") = (ops.map(_.cost.jobs).sum / u, "count")
      layers(s"$key.tasks") = (ops.map(_.cost.tasks).sum / u, "count")
      layers(s"$key.executor_run_s") = (ops.map(_.cost.executorRunMs).sum / 1000.0 / u, "s")
      layers(s"$key.driver_only_s") = (ops.map(_.driverOnlyS).sum / u, "s")
      if (p == "op") {
        layers("spark.shuffle_write_bytes") = (ops.map(_.cost.shuffleWriteBytes).sum / u, "B")
        layers("spark.shuffle_read_bytes") = (ops.map(_.cost.shuffleReadBytes).sum / u, "B")
        layers("spark.spill_bytes") = (ops.map(_.cost.spillBytes).sum / u, "B")
        layers("spark.input_bytes") = (ops.map(_.cost.inputBytes).sum / u, "B")
      }
    }
  }

  private def mark(what: String): Unit = note(f"$what at ${
    java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0}%.1f s of the JVM")

  def execute(): Unit = {
    mark("session ready")
    val load0 = loadAvg
    try workload match {
      case "search_homolog_rich" => runWorkload(HomologRich)
      case "search_sparse_large" => runWorkload(SparseLarge)
      case "training" => runWorkload(Training)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    } catch {
      case e: Throwable =>
        check(ok = false, s"${e.getClass.getSimpleName}: ${e.getMessage}")
        e.printStackTrace()
    }
    spark.stop() // delivers every pending listener event
    if (trace) spanLayers()
    e2e("peak_rss_mb") = (peakRssMb, "MB")
    val load = math.max(load0, loadAvg)
    layers("host.load_1m") = (load, "load")
    note(f"host 1-min load average $load%.2f")
    report("error_rate") = (failed.toDouble / math.max(attempted, 1), "share")
    val spans = cost.fold("[]")(_.spans.map(s => json(Seq(
      "name" -> s"\"${esc(s.name)}\"", "wall_s" -> s.wallS.toString,
      "jobs" -> s.cost.jobs.toString, "tasks" -> s.cost.tasks.toString,
      "executor_run_s" -> (s.cost.executorRunMs / 1000.0).toString,
      "driver_only_s" -> s.driverOnlyS.toString,
      "shuffle_write_bytes" -> s.cost.shuffleWriteBytes.toString,
      "shuffle_read_bytes" -> s.cost.shuffleReadBytes.toString,
      "spill_bytes" -> s.cost.spillBytes.toString,
      "input_bytes" -> s.cost.inputBytes.toString))).mkString("[", ",\n", "]"))
    val out = json(Seq(
      "attempted" -> attempted.toString, "failed" -> failed.toString,
      "failures" -> failures.map(f => s"\"${esc(f)}\"").mkString("[", ", ", "]"),
      "notes" -> notes.map(n => s"\"${esc(n)}\"").mkString("[", ", ", "]"),
      "end_to_end" -> metricsJson(e2e), "per_layer" -> metricsJson(layers),
      "report" -> metricsJson(report), "spans" -> spans))
    Files.write(work.resolve("result.json"), out.getBytes(UTF_8))
  }
}
