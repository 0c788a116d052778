package graft

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}

/** Round-14 optimization diagnostic: per-query cost decomposition.
  *
  * For each named query (args; default = the bench's 30 most expensive
  * from the round-14 baseline) run it warm under the bench's exact
  * session shape and print, for the MEDIAN-of-3 timed run:
  *
  *   wall, #jobs, #stages, #tasks, sum(task run time), sum(executor
  *   CPU), sum(GC), shuffle read/write records + bytes.
  *
  * `sum(task time) / wall / cores` is the parallel efficiency; a query
  * whose wall greatly exceeds `taskTime/32` is driver- or
  * scheduling-bound (plan/AQE/sample-job overhead), which is a
  * DIFFERENT optimization target than a compute-bound kernel.
  * guide §1.1 (empirical loop), §7.3 (driver-side work).
  */
object ProfMain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = LocalSession(cpus)

    val jobs = new AtomicInteger
    val stages = new AtomicInteger
    val tasks = new AtomicInteger
    val taskMs = new AtomicLong
    val cpuNs = new AtomicLong
    val gcMs = new AtomicLong
    val srRec = new AtomicLong
    val srBytes = new AtomicLong
    val swRec = new AtomicLong
    val swBytes = new AtomicLong
    val stageRows = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val perStage = sys.env.get("PROF_STAGES").contains("1")
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        if (perStage) {
          val i = s.stageInfo
          val m = i.taskMetrics
          stageRows.add(f"    stage ${i.stageId}%4d tasks=${i.numTasks}%4d " +
            f"run=${m.executorRunTime / 1000.0}%7.2f " +
            f"cpu=${m.executorCpuTime / 1e9}%7.2f " +
            f"inRec=${m.inputMetrics.recordsRead}%9d " +
            f"shRdRec=${m.shuffleReadMetrics.recordsRead}%9d " +
            f"shWrRec=${m.shuffleWriteMetrics.recordsWritten}%9d  " +
            i.name.take(80))
        }
      }
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        val m = te.taskMetrics
        if (m != null) {
          taskMs.addAndGet(m.executorRunTime)
          cpuNs.addAndGet(m.executorCpuTime)
          gcMs.addAndGet(m.jvmGCTime)
          srRec.addAndGet(m.shuffleReadMetrics.recordsRead)
          srBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead)
          swRec.addAndGet(m.shuffleWriteMetrics.recordsWritten)
          swBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        }
      }
    }

    def reset(): Unit = Seq(jobs, stages, tasks).foreach(_.set(0)) // ints
    def resetLongs(): Unit =
      Seq(taskMs, cpuNs, gcMs, srRec, srBytes, swRec, swBytes)
        .foreach(_.set(0L))

    val names =
      if (args.nonEmpty) args.toSeq
      else Seq("s05_quantized_topk", "s01_cosine_topk", "s03_topk_aggregate",
        "m15_png_features", "p07_corpus_prep", "s19_pq_rerank",
        "d16_shared_span_pairs", "d15_dup_spans", "s09_pq_topk",
        "d21_semdedup_provisioned", "p17_effective_corpus", "s02_ivf_topk",
        "s14_hard_negatives", "d13_containment", "p01_dedup_pipeline")

    println(f"${"query"}%-28s ${"wall"}%7s ${"jobs"}%5s ${"stg"}%4s " +
      f"${"tasks"}%6s ${"taskS"}%7s ${"cpuS"}%7s ${"gcS"}%6s " +
      f"${"eff"}%5s ${"shRdRec"}%9s ${"shRdMB"}%7s")
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      // warm twice (codegen + artifact training), then time the 3rd
      (1 to 2).foreach { _ =>
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      }
      Bench.releaseStorage(spark)
      spark.sparkContext.addSparkListener(listener)
      reset(); resetLongs()
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      // listener events are async: give the bus a moment to drain
      Thread.sleep(200)
      spark.sparkContext.removeSparkListener(listener)
      val cores = cpus.toInt
      val eff = taskMs.get() / 1000.0 / wall / cores
      println(f"$name%-28s $wall%7.2f ${jobs.get()}%5d ${stages.get()}%4d " +
        f"${tasks.get()}%6d ${taskMs.get() / 1000.0}%7.2f " +
        f"${cpuNs.get() / 1e9}%7.2f ${gcMs.get() / 1000.0}%6.2f " +
        f"$eff%5.2f ${srRec.get()}%9d ${srBytes.get() / 1e6}%7.1f")
      while (!stageRows.isEmpty) println(stageRows.poll())
    }
    spark.stop()
  }
}
