package graft

import org.apache.hadoop.conf.Configuration
import org.apache.spark.util.SerializableConfiguration
import scala.jdk.CollectionConverters._

/** The session's Hadoop conf ships without per-key property sources
  * ([[Tables.dropPropertySources]]): every Spark job serializes a copy of
  * it, and `Configuration.write` gzips each key's source record. */
class HadoopConfSpec extends SparkSpec {

  private def entries(conf: Configuration): Map[String, String] =
    conf.iterator.asScala.map(e => e.getKey -> e.getValue).toMap

  /** Keys whose recorded source is a resource (`core-default.xml`, ...)
    * rather than a programmatic `set`. */
  private def resourceSourced(conf: Configuration): Map[String, Seq[String]] =
    entries(conf).keys.toSeq
      .flatMap(k => Option(conf.getPropertySources(k)).map(k -> _.toSeq))
      .filter(_._2.exists(_ != "programmatically")).toMap

  private def javaBytes(o: AnyRef): Array[Byte] = {
    val bytes = new java.io.ByteArrayOutputStream()
    val out = new java.io.ObjectOutputStream(bytes)
    out.writeObject(o)
    out.close()
    bytes.toByteArray
  }

  private def javaRead[A](bytes: Array[Byte]): A =
    new java.io.ObjectInputStream(new java.io.ByteArrayInputStream(bytes))
      .readObject().asInstanceOf[A]

  private def assertNoResourceSources(conf: Configuration): Unit = {
    val found = resourceSourced(conf)
    if (found.nonEmpty) fail(s"${found.size} keys with a resource source, e.g. ${found.take(3)}")
  }

  test("a session's Hadoop conf keeps its default keys and no resource sources, before and after a write") {
    val conf = spark.sessionState.newHadoopConf()
    assert(conf.size() > 1000, "the *-default.xml keys are gone")
    assert(conf.get("fs.defaultFS") == "file:///")
    assertNoResourceSources(conf)
    spark.range(3).write.mode("overwrite")
      .parquet(Tables.scratchDir("graft_hconf_write").resolve("t").toString)
    val after = spark.sessionState.newHadoopConf()
    assertNoResourceSources(after)
    assertNoResourceSources(spark.sparkContext.hadoopConfiguration)
  }

  test("dropping the sources keeps every key and value, and a serialized round trip reproduces them") {
    val conf = new Configuration()
    val before = entries(conf)
    val fullBytes = javaBytes(new SerializableConfiguration(conf))
    assert(resourceSourced(conf).nonEmpty, "a fresh conf records its resources")
    Tables.dropPropertySources(conf)
    assert(entries(conf) == before)
    assert(before.keys.forall(k => conf.getPropertySources(k) == null))
    val bytes = javaBytes(new SerializableConfiguration(conf))
    assert(bytes.length < fullBytes.length * 3 / 4, s"${bytes.length} vs ${fullBytes.length} bytes")
    assert(entries(javaRead[SerializableConfiguration](bytes).value) == before)
  }

  test("a reload of the shared conf brings the sources back and ensureParquetConf drops them again") {
    val shared = spark.sparkContext.hadoopConfiguration
    val before = entries(shared)
    shared.reloadConfiguration()
    assert(resourceSourced(shared).nonEmpty, "the reload recorded no resource")
    Tables.ensureParquetConf(spark)
    assertNoResourceSources(shared)
    assert(entries(shared) == before)
    assertNoResourceSources(spark.sessionState.newHadoopConf())
  }
}
