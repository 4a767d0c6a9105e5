package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Profiling main (guide §1): run ONE declared query with a listener that
  * attributes job wall time to `spark.job.description` labels (the
  * orchestrator legs are labeled via `Maintenance.labeled`). Prints, per
  * rep, a per-label table of (jobs, wall-sum) plus the unattributed
  * remainder (driver-side work between jobs: fs metadata ops, manifest
  * I/O, planning). Job wall sums overlapping concurrent legs separately,
  * so the table reads as "cost if serialized" — the rep wall line is the
  * true elapsed time.
  *
  * Usage: SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_CPUS=... \
  *   sbt 'runMain graft.ProfileJobs <queryName> [reps]'
  */
object ProfileJobs {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse(
      sys.error("usage: ProfileJobs <queryName> [reps]"))
    val reps = args.lift(1).map(_.toInt).getOrElse(2)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Sessions.local(cpus.toInt)

    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (String, Long)]()
    val acc = new java.util.concurrent.ConcurrentHashMap[String, (Int, Double)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val d = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("(unlabeled)")
        starts.put(e.jobId, (d, System.nanoTime())); ()
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        Option(starts.remove(e.jobId)).foreach { case (d, t0) =>
          val dt = (System.nanoTime() - t0) / 1e9
          acc.merge(d, (1, dt),
            (a, b) => (a._1 + b._1, a._2 + b._2)); ()
        }
      }
    })

    val fn = SparkEntry.queries.getOrElse(name,
      sys.error(s"unknown query $name"))
    for (r <- 1 to reps) {
      acc.clear()
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      // listener bus is async: give it a beat to drain before reading
      Thread.sleep(500)
      import scala.jdk.CollectionConverters._
      val rows = acc.asScala.toSeq.sortBy(-_._2._2)
      val jobSum = rows.map(_._2._2).sum
      println(f"== $name rep $r: wall $wall%.2f s, job-wall sum $jobSum%.2f s, " +
        f"jobs ${rows.map(_._2._1).sum}%d ==")
      rows.foreach { case (d, (n, s)) =>
        println(f"  $s%8.2f s  $n%4d jobs  $d%s")
      }
      System.gc()
    }
    spark.stop()
  }
}
