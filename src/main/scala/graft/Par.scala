package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Scale-adaptive scan widening (optimization guide §2: derive
  * partitioning from the input, never a constant tuned for one scale).
  *
  * CPU-heavy per-row operators (shingle explosion, hash embedding,
  * per-vector quantization, perceptual hashing) inherit the SCAN's
  * partitioning for their map-side work. A production corpus arrives as
  * thousands of splits, so that work is already wide; a small corpus in
  * one parquet file (one row group — the local/test shape) arrives as ONE
  * partition and serializes the whole map side on a single core while the
  * rest of the machine idles. [[widen]] round-robins such an input up to
  * the session's parallelism — and is a provable NO-OP (no added
  * exchange) whenever the input is already at least that wide, so at
  * scale it never inserts a shuffle.
  */
object Par {
  def widen(df: DataFrame): DataFrame = {
    val n = df.sparkSession.sparkContext.defaultParallelism
    // getNumPartitions plans the frame but launches no job
    if (df.rdd.getNumPartitions >= n) df else df.repartition(n)
  }

  /** Run INDEPENDENT Spark actions concurrently from the driver (guide
    * §2.6: actions are only sequential because driver code calls them
    * sequentially — overlapping lets the next job's tasks back-fill
    * executors freed by the current job's tail). For the multi-output
    * commit paths here (history + watermark tables, data + sidecar) the
    * writes touch DISJOINT directories, so overlap changes no on-disk
    * state transition order a reader can observe within one output.
    *
    * Every task runs under one job group per call. The first failure
    * cancels that group's running and future jobs, so a sibling write still
    * in flight fails instead of committing; all tasks are joined, then the
    * first failure is thrown with every later one attached as suppressed.
    */
  def jobs(tasks: (() => Unit)*): Unit = {
    if (tasks.sizeIs <= 1) { tasks.foreach(_.apply()); return }
    val sc = SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .map(_.sparkContext)
    val group = s"Par.jobs-${java.util.UUID.randomUUID()}"
    val first = new java.util.concurrent.atomic.AtomicReference[Throwable]
    val later = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val threads = tasks.map { t =>
      val th = new Thread(() => {
        sc.foreach(_.setJobGroup(group, "Par.jobs", interruptOnCancel = true))
        try t() catch {
          case e: Throwable =>
            if (first.compareAndSet(null, e))
              sc.foreach(_.cancelJobGroupAndFutureJobs(group,
                s"a sibling Par.jobs task failed: $e"))
            else later.add(e)
        }
      })
      th.setDaemon(true)
      th.start()
      th
    }
    threads.foreach(_.join())
    val e = first.get()
    if (e != null) {
      later.forEach(e.addSuppressed(_))
      throw e
    }
  }
}
