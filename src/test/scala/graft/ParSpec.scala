package graft

import org.scalatest.funsuite.AnyFunSuite

/** `Par.jobs` failure handling: the first failure cancels the sibling
  * tasks' Spark jobs (so a sibling write cannot go on to commit), and every
  * failure is reported — the first thrown, the rest suppressed on it.
  */
class ParSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("a failing task cancels a long-running sibling job; both errors are reported") {
    val sc = spark.sparkContext
    val t0 = System.nanoTime()
    val err = intercept[IllegalStateException] {
      Par.jobs(
        () => {
          // fail once the sibling's job is running (a job not yet submitted
          // is cancelled too, but this is the case that matters)
          val deadline = System.nanoTime() + 20_000_000_000L
          while (sc.statusTracker.getActiveJobIds().isEmpty &&
              System.nanoTime() < deadline) Thread.sleep(20)
          throw new IllegalStateException("boom")
        },
        () => sc.parallelize(Seq(1), 1).map { x => Thread.sleep(120000); x }.count())
    }
    val secs = (System.nanoTime() - t0) / 1e9
    assert(err.getMessage == "boom")
    val suppressed = err.getSuppressed.toSeq
    assert(suppressed.size == 1, suppressed)
    assert(suppressed.head.isInstanceOf[org.apache.spark.SparkException], suppressed.head)
    assert(suppressed.head.getMessage.contains("cancelled"), suppressed.head.getMessage)
    assert(secs < 60, s"the long job ran on for $secs s")
  }

  test("all failures are reported when several tasks fail") {
    val err = intercept[RuntimeException] {
      Par.jobs(
        () => throw new RuntimeException("a"),
        () => throw new RuntimeException("b"),
        () => ())
    }
    assert((err.getMessage +: err.getSuppressed.toSeq.map(_.getMessage)).sorted == Seq("a", "b"))
  }
}
