package perfbench

import java.sql.Timestamp
import java.util.SplittableRandom

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded synthetic tables for the generic operators' registry queries:
  * `events`, `documents` and `embeddings`, with the columns and value
  * shapes of the driver corpus the queries were written against.
  *
  *  - events: ids in time order over 30 days of 2024, five event types,
  *    values 0-560, a small JSON `props`.
  *  - documents: 10-100 tokens from a 30-word vocabulary; 5 % are near
  *    copies of an earlier document (one extra `dup` token), so the
  *    dedup and graph queries have pairs to find.
  *  - embeddings: 64-d unit vectors around ten labelled centres.
  *
  * Each table is one parquet file under `<dir>/<name>.parquet`. The same
  * seed and sizes give the same rows.
  */
object OpsCorpus {

  final case class Spec(events: Int, documents: Int, embeddings: Int)

  private val Vocabulary = ("spark window merge table column vector stream value " +
    "data small join filter big group hash customer sort order slow line part " +
    "fast row the agg key query a scan batch").split(" ")
  private val EventTypes = Array("signup", "purchase", "view", "click", "error")
  private val Langs = Array("en", "en", "zh", "es", "fr", "de")
  private val Start = Timestamp.valueOf("2024-01-01 00:00:00").getTime
  private val SpanMs = 30L * 24 * 3600 * 1000
  private val Dim = 64
  private val Labels = 10

  def generate(spark: SparkSession, seed: Long, spec: Spec, dir: String): Unit = {
    val rnd = new SplittableRandom(seed)
    def write(name: String, schema: StructType, rows: Seq[Row]): Unit =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
        .write.mode("overwrite").parquet(s"$dir/$name.parquet")

    val users = math.max(spec.events / 66, 10)
    val times = Array.fill(spec.events)(Start + (rnd.nextDouble() * SpanMs).toLong).sorted
    write("events", StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType))),
      times.indices.map { i =>
        Row(i.toLong, new Timestamp(times(i)), rnd.nextInt(users).toLong,
          EventTypes(rnd.nextInt(EventTypes.length)),
          math.round(rnd.nextDouble() * 56021) / 100.0, s"""{"k": ${rnd.nextInt(100)}}""")
      })

    val texts = new Array[String](spec.documents)
    for (i <- texts.indices) {
      texts(i) =
        if (i > 0 && rnd.nextDouble() < 0.05) texts(rnd.nextInt(i)) + " dup"
        else Seq.fill(10 + rnd.nextInt(91))(Vocabulary(rnd.nextInt(Vocabulary.length)))
          .mkString(" ")
    }
    write("documents", StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType))),
      texts.indices.map { i =>
        Row(i.toLong, texts(i), Langs(rnd.nextInt(Langs.length)), s"src${i % 20}",
          texts(i).length.toLong)
      })

    val centres = Array.fill(Labels, Dim)(rnd.nextDouble() * 2 - 1)
    write("embeddings", StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType, containsNull = false)),
      StructField("label", IntegerType))),
      (0 until spec.embeddings).map { i =>
        val label = rnd.nextInt(Labels)
        val v = centres(label).map(_ + (rnd.nextDouble() * 2 - 1) * 0.8)
        val norm = math.sqrt(v.map(x => x * x).sum)
        Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, label)
      })
  }
}
