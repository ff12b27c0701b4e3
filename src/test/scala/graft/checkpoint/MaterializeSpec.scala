package graft.checkpoint

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import java.nio.file.{Files, Paths}
import java.util.concurrent.TimeUnit
import scala.jdk.CollectionConverters._

/** Pins which path [[Materialize]] takes on each kind of master. */
class MaterializeSpec extends SparkSpec {

  test("local master: eager local checkpoint, LogicalRDD plan, no CacheManager entry") {
    val r = MaterializeSpec.probe(spark)
    assert(r.rowsComputedBeforeReturn === MaterializeSpec.Rows,
      "the materialising job must run before the helper returns")
    assert(r.planIsLogicalRdd, "a local checkpoint cuts the plan to a LogicalRDD")
    assert(!r.cached, "a local checkpoint registers no CacheManager entry")
    assert(r.count === MaterializeSpec.Rows)
    assert(r.rowsComputedAfterCount === MaterializeSpec.Rows,
      "counting reads the stored blocks, it does not recompute")
  }

  test("non-local master: persist plus an action, CacheManager entry, full plan") {
    val log = MaterializeSpec.runClusterProbe()
    assume(log.contains(ClusterProbe.Up),
      "a local-cluster master could not start here:\n" + log.takeRight(10).mkString("\n"))
    val line = log.find(_.startsWith("MATERIALIZE "))
    assert(line.isDefined, log.takeRight(40).mkString("\n"))
    val Seq(computed, logicalRdd, cached, count, after) =
      line.get.stripPrefix("MATERIALIZE ").split(" ").toSeq
    assert(computed.toLong === MaterializeSpec.Rows,
      "the materialising job must run before the helper returns")
    assert(logicalRdd === "false", "persist keeps the frame's own plan")
    assert(cached === "true", "persist registers a CacheManager entry")
    assert(count.toLong === MaterializeSpec.Rows)
    assert(after.toLong === MaterializeSpec.Rows,
      "counting reads the persisted blocks, it does not recompute")
  }

  test("src/main calls localCheckpoint( only in Materialize and the frozen SparkEntry") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"source root not found from ${Paths.get("").toAbsolutePath}")
    val allowed = Set(
      root.resolve("graft/checkpoint/Materialize.scala"),
      root.resolve("graft/SparkEntry.scala"))
    val stream = Files.walk(root)
    val offenders = try stream.iterator.asScala
      .filter(p => p.toString.endsWith(".scala") && !allowed.contains(p))
      .filter(p => Files.readString(p).contains("localCheckpoint("))
      .toList finally stream.close()
    assert(offenders.isEmpty, s"route these through Materialize: ${offenders.mkString(", ")}")
  }
}

object MaterializeSpec {
  val Rows = 100L

  case class Probe(rowsComputedBeforeReturn: Long, planIsLogicalRdd: Boolean,
                   cached: Boolean, count: Long, rowsComputedAfterCount: Long) {
    def line: String =
      s"MATERIALIZE $rowsComputedBeforeReturn $planIsLogicalRdd $cached $count $rowsComputedAfterCount"
  }

  /** Materializes a frame whose every row bumps an accumulator, then
    * reads back what the helper did. Task accumulator updates are merged
    * before a job's waiter is released, so the count seen right after
    * the call is the work that ran inside it. */
  def probe(spark: SparkSession): Probe = {
    val acc = spark.sparkContext.longAccumulator("materialize-probe")
    val touch = udf((x: Long) => { acc.add(1L); x })
    val df: DataFrame = spark.range(0L, Rows, 1L, 4).select(touch(col("id")).as("id"))
    val m = Materialize(df)
    val before = acc.value.longValue
    val logicalRdd = m.queryExecution.analyzed.isInstanceOf[LogicalRDD]
    val cached = m.storageLevel != StorageLevel.NONE
    val n = m.count()
    Probe(before, logicalRdd, cached, n, acc.value.longValue)
  }

  /** Runs [[ClusterProbe]] in a child JVM (one SparkContext per JVM) on a
    * `local-cluster` master and returns its output lines. Executors are
    * launched from the jars the session classes come from, under a
    * throwaway SPARK_HOME: the standalone worker writes its work dir
    * there, so the Spark installation itself stays untouched. */
  def runClusterProbe(): Seq[String] = {
    val sparkJar = Paths.get(classOf[SparkSession].getProtectionDomain.getCodeSource.getLocation.toURI)
    val jars = sys.env.get("SPARK_HOME").map(Paths.get(_, "jars")).getOrElse(sparkJar.getParent)
    if (!Files.isDirectory(jars)) return Nil
    val home = Files.createTempDirectory("materialize-spark-home")
    try {
      Files.createSymbolicLink(home.resolve("jars"), jars)
      Files.createFile(home.resolve("RELEASE")) // read as an install: classpath = jars/*
      val javaBin = Paths.get(sys.props("java.home"), "bin", "java").toString
      val opens = Seq("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")
        .flatMap(p => Seq("--add-opens", s"java.base/$p=ALL-UNNAMED"))
      val log = home.resolve("probe.log")
      val pb = new ProcessBuilder((Seq(javaBin, "-Xmx512m", "-cp", sys.props("java.class.path")) ++
          opens :+ "graft.checkpoint.ClusterProbe").asJava)
        .redirectErrorStream(true)
        .redirectOutput(log.toFile)
      pb.environment().put("SPARK_HOME", home.toString)
      // the executor launcher asks for it outside a Spark source checkout
      pb.environment().put("SPARK_SCALA_VERSION", scala.util.Properties.versionNumberString
        .split('.').take(2).mkString("."))
      val proc = pb.start()
      if (!proc.waitFor(180, TimeUnit.SECONDS)) proc.destroyForcibly().waitFor()
      Files.readAllLines(log).asScala.toSeq
    } finally {
      // walk does not follow the jars link: only the link itself is removed
      val stream = Files.walk(home)
      try stream.iterator.asScala.toList.reverse.foreach(Files.delete) finally stream.close()
    }
  }
}

/** Child-JVM side of the non-local check: one worker with one core on a
  * `local-cluster` master, the test classpath shipped to its executor. */
object ClusterProbe {
  val Up = "CLUSTER-UP"

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local-cluster[1,1,1024]")
      .config("spark.executor.memory", "512m")
      .appName("graft-materialize-cluster")
      .config("spark.executor.extraClassPath", sys.props("java.class.path"))
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    try {
      spark.range(1).count()
      println(Up)
      println(MaterializeSpec.probe(spark).line)
    } finally spark.stop()
  }
}
