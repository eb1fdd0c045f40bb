package graft.bio

import graft.TestSpark
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{FileSourceScanExec, MapPartitionsExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.types.ObjectType
import org.scalatest.funsuite.AnyFunSuite

/** Plan shape of a search against a persisted DB: after an action, the
  * final adaptive plan scans the k-mer index once, expands the query table
  * once, and shuffles the hits once on (targetId, queryId) — the prefilter's
  * count gate and the align stage's per-pair aggregate share that exchange.
  */
class SearchIndexedPlanSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Every node of the executed plan, materialised query stages included;
    * a reused exchange counts once, where it first ran.
    */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => s +: nodes(s.plan)
    case r: ReusedExchangeExec => Seq(r)
    case other => other +: other.children.flatMap(nodes)
  }

  test("searchIndexed: one kmers scan, one query-table expansion, one hit exchange") {
    val src = scala.io.Source.fromInputStream(
      getClass.getResourceAsStream("/MSA_Cas7-11_multiline.fa"), "UTF-8")
    val degapped = try src.getLines()
      .map(l => if (l.startsWith(">")) l else l.replace("-", "").replace(".", ""))
      .mkString("\n") finally src.close()
    val fa = java.io.File.createTempFile("plan_src", ".fa")
    fa.deleteOnExit()
    java.nio.file.Files.writeString(fa.toPath, degapped)
    val db = java.nio.file.Files.createTempDirectory("plandb").toString
    PetaSearch.buildTargetDb(spark, fa.getAbsolutePath, db)

    val queries = Fasta.read(spark, fa.getAbsolutePath)
    val result = PetaSearch.searchIndexed(spark, queries, db)
    assert(result.collect().nonEmpty)
    val plan = result.queryExecution.executedPlan
    assert(plan.simpleString(1000).contains("isFinalPlan=true"), plan.toString)
    val all = nodes(plan)

    val kmerScans = all.collect {
      case f: FileSourceScanExec
          if f.relation.location.rootPaths.exists(_.getName == "kmers") => f
    }
    assert(kmerScans.size == 1, s"kmers scans:\n$plan")

    // QueryTable.build's flatMap emits (queryId, kmerPos, kmer) tuples
    val queryTable = all.collect {
      case m: MapPartitionsExec
          if m.outputObjAttr.dataType == ObjectType(classOf[Tuple3[_, _, _]]) => m
    }
    assert(queryTable.size == 1, s"query-table expansions:\n$plan")

    val pairExchanges = all.collect {
      case e: ShuffleExchangeExec => e.outputPartitioning
    }.collect {
      case h: HashPartitioning
          if h.expressions.collect { case a: Attribute => a.name }.toSet ==
            Set("targetId", "queryId") => h
    }
    assert(pairExchanges.size == 1, s"hash exchanges on (targetId, queryId):\n$plan")
  }
}
