package graft.bio

import graft.TestSpark
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

/** A target DB is read with declared schemas (`Fasta.Schema`,
  * `KmerIndex.Schema`) and a driver-side meta read. The declared schemas
  * must match, by name and type, what every writer of a DB writes — else a
  * writer change would silently null a column — and the meta read must give
  * the figures the writers stored.
  */
class TargetDbSchemaSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def protein(rnd: scala.util.Random, n: Int) =
    Array.fill(n)("ACDEFGHIKLMNPQRSTVWY"(rnd.nextInt(20))).mkString

  private def writeFasta(records: Seq[(String, String)]): String = {
    val f = java.io.File.createTempFile("dbschema", ".fa")
    f.deleteOnExit()
    java.nio.file.Files.writeString(f.toPath,
      records.map { case (h, s) => s">$h\n$s" }.mkString("\n"))
    f.getAbsolutePath
  }

  private def tmpDir(name: String): String =
    java.nio.file.Files.createTempDirectory(name).toString

  private def shape(s: StructType): Seq[(String, String)] =
    s.fields.toSeq.map(f => f.name -> f.dataType.simpleString)

  /** The parquet schema Spark infers for `path` equals `declared`. */
  private def assertInferred(path: String, declared: StructType): Unit =
    assert(shape(spark.read.parquet(path).schema) == shape(declared), path)

  private def assertDb(db: String): Unit = {
    assertInferred(s"$db/sequences", Fasta.Schema)
    assertInferred(s"$db/kmers", KmerIndex.Schema)
  }

  /** (dbResCount, nSeqs) as Spark reads them from `meta/`; null reads 0. */
  private def meta(db: String): (Long, Long) = {
    val r = spark.read.parquet(s"$db/meta").head()
    (if (r.isNullAt(0)) 0L else r.getLong(0), r.getLong(1))
  }

  test("buildTargetDb and appendToTargetDb write the declared schemas") {
    val rnd = new scala.util.Random(21)
    val a = (0 until 5).map(i => (s"a$i", protein(rnd, 60 + i)))
    val b = (0 until 4).map(i => (s"b$i", protein(rnd, 70 + i)))
    val db = tmpDir("schemadb")
    PetaSearch.buildTargetDb(spark, writeFasta(a), db)
    assertDb(db)
    PetaSearch.appendToTargetDb(spark, writeFasta(b), db)
    assertDb(db)
    val full = tmpDir("schemafull")
    PetaSearch.buildTargetDb(spark, writeFasta(a ++ b), full)
    assert(meta(db) == meta(full))
  }

  test("an imported reference k-mer table persists the declared index schema") {
    val rnd = new scala.util.Random(22)
    val seqs = Fasta.read(spark,
      writeFasta((0 until 6).map(i => (s"s$i", protein(rnd, 50 + i))))).cache()
    val dir = tmpDir("schemaimport")
    SraInterop.writeKmerTable(KmerIndex.buildWithPos(seqs).select("kmer", "seqId"),
      s"$dir/tbl")
    KmerIndex.write(SraInterop.importKmerTable(spark, s"$dir/tbl", seqs), s"$dir/kmers")
    assertInferred(s"$dir/kmers", KmerIndex.Schema)
    seqs.unpersist()
  }

  test("meta: an empty DB's null residue total reads as 0; a missing meta/ is rescanned") {
    val rnd = new scala.util.Random(23)
    val batch = (0 until 3).map(i => (s"e$i", protein(rnd, 40 + i)))
    val full = tmpDir("metafull")
    PetaSearch.buildTargetDb(spark, writeFasta(batch), full)

    val empty = tmpDir("metaempty")
    PetaSearch.buildTargetDb(spark, writeFasta(Seq.empty), empty)
    assert(spark.read.parquet(s"$empty/meta").head().isNullAt(0))
    PetaSearch.appendToTargetDb(spark, writeFasta(batch), empty)
    assert(meta(empty) == meta(full))

    val noMeta = tmpDir("metamissing")
    PetaSearch.buildTargetDb(spark, writeFasta(batch.take(1)), noMeta)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$noMeta/meta"))
    PetaSearch.appendToTargetDb(spark, writeFasta(batch.drop(1)), noMeta)
    assert(meta(noMeta) == meta(full))
  }
}
