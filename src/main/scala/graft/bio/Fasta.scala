package graft.bio

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** FASTA/FASTQ ingest — the `convert2sradb` stage (S1/P1/P2/P3,
  * `src/sra/convert2sradb.cpp:96-157`, cleaning `src/commons/SRAUtil.cpp:18-45`).
  *
  * Distributed record splitting: `spark.read.text` with lineSep `"\n>"` cuts
  * exactly at record boundaries, so a 100 TB FASTA set splits across
  * executors without a driver-side parse. Header/sequence split, `'*'->'X'`,
  * `'@'` stripped, uppercased; the dense ordinal `seqId` (the reference's
  * implicit row key, `src/commons/SRADBReader.cpp:317-319`) is materialized
  * once at ingest via zipWithIndex.
  *
  * Output schema: `sequences(seqId BIGINT, header STRING, name STRING,
  * seq STRING, seqLen INT)` — headers inline (supersedes the `_h` store).
  */
object Fasta {

  /** The `sequences` table as ingest emits it and a target DB persists it
    * under `sequences/`; readers of a DB declare it instead of inferring it.
    */
  val Schema: StructType = StructType(Seq(
    StructField("seqId", LongType), StructField("header", StringType),
    StructField("name", StringType), StructField("seq", StringType),
    StructField("seqLen", IntegerType)))

  def read(spark: SparkSession, path: String): DataFrame = {
    val raw = spark.read.option("lineSep", "\n>").text(path)
    fromRecords(spark, raw)
  }

  /** Parse '>'-delimited records (header line + sequence lines). */
  private[bio] def fromRecords(spark: SparkSession, raw: DataFrame): DataFrame = {
    val schema = StructType(Seq(
      StructField("seqId", LongType, nullable = false),
      StructField("header", StringType, nullable = false),
      StructField("seq", StringType, nullable = false)))
    // zipWithIndex: one extra narrow pass; assigns the dense file-order key
    val rows = raw.rdd
      .map(_.getString(0))
      .map(rec => if (rec.startsWith(">")) rec.drop(1) else rec)
      .filter(_.trim.nonEmpty)
      .zipWithIndex()
      .map { case (rec, id) =>
        val nl = rec.indexOf('\n')
        val (header, body) = if (nl < 0) (rec, "") else (rec.take(nl), rec.drop(nl + 1))
        val seq = cleanSequence(body)
        org.apache.spark.sql.Row(id, header.trim, seq)
      }
    spark.createDataFrame(rows, schema)
      .withColumn("name", parseFastaHeaderCol(col("header")))
      .filter(length(col("name")) > 0) // P3 empty-header validity
      .withColumn("seqLen", length(col("seq")).cast("int"))
      .select("seqId", "header", "name", "seq", "seqLen")
  }

  /** FASTQ ingest (4-line records: @header / seq / + / qual; quality lines
    * may START with '@', so records cannot be split by a delimiter).
    *
    * Shuffle-free record assembly: records are glued PARTITION-LOCALLY with
    * a boundary handoff instead of shuffling every line through a
    * `groupByKey(lineNo/4)`. Pass 1 collects per-partition line counts plus
    * the <=3 lines adjacent to each partition boundary (O(partitions)
    * driver data — a record spans at most 4 lines, so every line of a
    * boundary-straddling record is within 3 lines of a boundary or inside a
    * fully-captured tiny partition). Pass 2 assembles all fully-contained
    * records in place; the handful of straddling records are assembled from
    * the captured fragments. Net: two narrow scans (the same count-job cost
    * `zipWithIndex` already paid) and ZERO shuffle — nothing like a 100 TB
    * corpus ever crosses the network. Gzipped files work transparently
    * (Spark's text source applies the codec before splitting, same
    * single-stream behavior as the reference's kseq+zlib,
    * `lib/mmseqs/src/commons/KSeqWrapper.h:37-84`).
    */
  def readFastq(spark: SparkSession, path: String): DataFrame = {
    val schema = StructType(Seq(
      StructField("seqId", LongType, nullable = false),
      StructField("header", StringType, nullable = false),
      StructField("seq", StringType, nullable = false),
      StructField("qual", StringType, nullable = false)))
    val lines = spark.read.text(path).rdd.map(_.getString(0))
    val rows = assembleFixedRecords(lines, 4).map { case (rec, parts) =>
      val header = parts(0)
      require(header.startsWith("@"), s"malformed FASTQ record $rec: $header")
      require(parts(2).startsWith("+"), s"malformed FASTQ record $rec")
      org.apache.spark.sql.Row(rec, header.drop(1).trim,
        cleanSequence(parts(1)), parts(3))
    }
    spark.createDataFrame(rows, schema)
      .withColumn("name", parseFastaHeaderCol(col("header")))
      .filter(length(col("name")) > 0)
      .withColumn("seqLen", length(col("seq")).cast("int"))
      .select("seqId", "header", "name", "seq", "seqLen", "qual")
  }

  /** Glue fixed-size `recLen`-line records partition-locally (see
    * [[readFastq]]). Returns (recordId, lines) with missing trailing lines
    * as "" (matching a truncated final record).
    */
  private[bio] def assembleFixedRecords(
      lines: org.apache.spark.rdd.RDD[String],
      recLen: Int): org.apache.spark.rdd.RDD[(Long, Array[String])] = {
    val sc = lines.sparkContext
    val margin = recLen - 1
    // pass 1: per-partition line count + first/last `margin` lines
    val info = lines.mapPartitionsWithIndex { (pi, it) =>
      val head = new scala.collection.mutable.ArrayBuffer[String](margin)
      val ring = new Array[String](margin)
      var n = 0L
      it.foreach { l =>
        if (n < margin) head += l
        if (margin > 0) ring((n % margin).toInt) = l
        n += 1
      }
      val lastK = math.min(margin.toLong, n).toInt
      val tail = Array.tabulate(lastK)(j =>
        ring(((n - lastK + j) % margin).toInt))
      Iterator((pi, n, head.toArray, tail))
    }.collect().sortBy(_._1)

    val offsets = info.map(_._2).scanLeft(0L)(_ + _)
    val total = offsets.last
    // captured global-lineNo -> line for everything near a boundary
    val captured = scala.collection.mutable.Map.empty[Long, String]
    info.foreach { case (pi, n, head, tail) =>
      head.zipWithIndex.foreach { case (l, j) => captured(offsets(pi) + j) = l }
      tail.zipWithIndex.foreach { case (l, j) =>
        captured(offsets(pi) + n - tail.length + j) = l
      }
    }

    val bOff = sc.broadcast(offsets)
    val local = lines.mapPartitionsWithIndex { (pi, it) =>
      val start = bOff.value(pi)
      val end = bOff.value(pi + 1)
      val buf = new Array[String](recLen)
      it.zipWithIndex.flatMap { case (l, li) =>
        val g = start + li
        val r = g / recLen
        // only records with every line inside this partition assemble here
        if (r * recLen >= start && r * recLen + recLen <= end) {
          buf((g % recLen).toInt) = l
          if (g % recLen == recLen - 1) Some((r, buf.clone())) else None
        } else None
      }
    }

    // records crossing a partition boundary (plus a truncated final record):
    // all their lines are captured; assemble on the driver
    val straddleIds = ((1 until offsets.length - 1)
      .map(pi => (offsets(pi) - 1) / recLen)
      .filter { r =>
        val lo = r * recLen
        val hi = lo + recLen
        // crosses some boundary b: lo < b < hi
        offsets.exists(b => lo < b && b < hi) && lo < total
      } ++ (if (total % recLen != 0) Seq(total / recLen) else Nil)).distinct
    val straddles = straddleIds.sorted.map { r =>
      (r, Array.tabulate(recLen)(j => captured.getOrElse(r * recLen + j, "")))
    }
    local.union(sc.parallelize(straddles, math.max(1, straddles.size)))
  }

  /** P1 char sanitize (`src/commons/SRAUtil.cpp:18-45`): '*'->'X', strip
    * newlines and '@', uppercase.
    */
  def cleanSequence(body: String): String = {
    val sb = new StringBuilder(body.length)
    var i = 0
    while (i < body.length) {
      val c = body.charAt(i)
      if (c == '*') sb += 'X'
      else if (c != '\n' && c != '\r' && c != '@' && !c.isWhitespace)
        sb += c.toUpper
      i += 1
    }
    sb.toString
  }

  /** P2 header-id extraction (`Util::parseFastaHeader`,
    * `lib/mmseqs/src/commons/Util.cpp:189-197`): first whitespace-free token;
    * for `db|ACC|rest` style accessions keep the accession field.
    */
  def parseFastaHeaderCol(header: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val first = regexp_extract(header, "^\\s*(\\S+)", 1)
    when(first.rlike("^(sp|tr|gb|ref|pdb|emb|dbj|prf|pir)\\|"),
      regexp_extract(first, "^[^|]+\\|([^|]+)", 1))
      .otherwise(first)
  }
}
