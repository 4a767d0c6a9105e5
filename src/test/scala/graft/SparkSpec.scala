package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session: one JVM-wide SparkSession for all suites. */
object SparkSpec {
  lazy val spark: SparkSession = Sessions.local(4)
  val sf = "/root/testdata/sf0.001"
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark
  def sf: String = SparkSpec.sf

  /** Run `publish` and move the pointer of the versioned-layer root `dir`
    * back to where it was: the state a crash between the manifest write
    * and the pointer move leaves (the new store dirs and manifest exist,
    * no reader can reach them). */
  def crashBeforePointerMove(dir: String)(publish: => Any): Unit = {
    import graft.operators.VersionedLayers
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val prior = VersionedLayers.readPointer(fs, root)
    publish
    VersionedLayers.writePointer(fs, root, prior)
  }

  /** `f` with the JVM system property `key` set to `value`, restored after. */
  def withSysProp[A](key: String, value: String)(f: => A): A = {
    val prev = System.setProperty(key, value)
    try f finally {
      if (prev == null) System.clearProperty(key) else System.setProperty(key, prev)
    }
  }

  /** `f`'s result and the Spark jobs it started, counted per
    * `spark.job.description` (unlabelled jobs count under ""). A labelled
    * no-op job fences the async listener bus, so every job `f` started
    * is counted. */
  def jobsByLabel[A](f: => A): (A, Map[String, Int]) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val fenceDesc = "graft spec job-count fence"
    val jobs = new java.util.concurrent.ConcurrentHashMap[String, Int]()
    val fence = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        Option(j.properties).flatMap(p =>
            Option(p.getProperty("spark.job.description"))).getOrElse("") match {
          case `fenceDesc` => fence.countDown()
          case d => jobs.merge(d, 1, (a: Int, b: Int) => a + b); ()
        }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val r = f
      graft.operators.Maintenance.labeled(spark, fenceDesc)(
        spark.sparkContext.parallelize(Seq(1), 1).count())
      assert(fence.await(20, java.util.concurrent.TimeUnit.SECONDS),
        "the listener bus never delivered the fence job")
      import scala.jdk.CollectionConverters._
      (r, jobs.asScala.toMap)
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
