package perfbench

import graft.fixtures.ScaleGen
import graft.ops.Dedup
import graft.streaming.Streams
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.nio.file.{Files, Path}
import scala.collection.mutable

/**
 * Streaming near-duplicate detection: a seed LSH index (built in set-up),
 * then micro-batches through `Streams.dedupDocs` with a cumulative index
 * dir, and `Streams.compactDedupIndex` before each cycle of `compactEvery` steps.
 * One client in a closed loop: the next batch is added only after
 * `processAllAvailable()` returns.
 *
 * All text comes from one ScaleGen `documents` corpus, whose doc 10k + 1
 * is a near-copy of doc 10k. Groups (10 docs) below `seedGroups` form the
 * seed index, except that the twins of groups 2s and 2s + 1 are held out
 * and arrive at step s (the vs-seed leg). Step s also brings stream groups
 * seedGroups + g*s .. + g-1 whole, except that every odd group's twin
 * arrives one step later (the cross-batch leg); the even groups' twins
 * arrive with their originals (the within-batch leg). Every other doc is
 * novel. The duplicates each step must report are therefore known exactly.
 */
final class StreamDedup(seed: Long, work: Path) {
  val groupsPerStep = 4
  val maxSteps = 50
  /** Seed groups 2s and 2s + 1 lend their twins to step s. */
  val seedGroups: Int = 2 * maxSteps
  val compactEvery = 3
  val threshold = 0.8
  private val seedIndexDir = work.resolve("seed-index")
  private val indexDir = work.resolve("stream-index")

  private var spark: SparkSession = _
  private var texts: Map[Long, String] = _
  private var seedIndex: DataFrame = _
  var seedDocs = 0L
  private var input: MemoryStream[(Long, String)] = _
  private var query: StreamingQuery = _
  private val reported = mutable.HashMap[Long, Set[(Long, Long)]]()
  @volatile private var batchSpan = -1
  @volatile private var stepIdx = 0

  private def group(g: Long) = (10L * g until 10L * g + 10L)
  private def streamGroup(s: Int, j: Int): Long = seedGroups.toLong + groupsPerStep.toLong * s + j

  /** (doc ids, expected (doc_id, dup_of) pairs) of step `s`. */
  def plan(s: Int): (Seq[Long], Set[(Long, Long)]) = {
    val seedTwins = Seq(2L * s, 2L * s + 1).map(k => 10L * k + 1)
    val own = (0 until groupsPerStep).flatMap { j =>
      val g = group(streamGroup(s, j))
      if (j % 2 == 1) g.filter(_ % 10 != 1) else g
    }
    val late = if (s == 0) Nil
      else (0 until groupsPerStep).filter(_ % 2 == 1).map(j => 10L * streamGroup(s - 1, j) + 1)
    val ids = seedTwins ++ own ++ late
    val twinsHere = ids.filter(_ % 10 == 1).map(t => (t, t - 1)).toSet
    (ids, twinsHere)
  }

  def setup(s: SparkSession, tr: Tracer): Unit = {
    spark = s
    import s.implicits._
    val nDocs = 10L * streamGroup(maxSteps, 0)
    val corpus = ScaleGen.documents(s, nDocs, seed)
    val heldOut = col("doc_id") >= 10L * seedGroups ||
      (col("doc_id") % 10 === 1 && col("doc_id") / 10 < 2L * maxSteps)
    val seedCorpus = corpus.filter(!heldOut).localCheckpoint(true)
    seedDocs = seedCorpus.count()
    texts = corpus.filter(heldOut).as[(Long, String)].collect().toMap
    Dirs.deleteTree(seedIndexDir)
    Dirs.deleteTree(indexDir)
    tr.span("ops.minhashBuckets", -1) {
      Dedup.minhashBuckets(seedCorpus, "doc_id", "text")
        .write.parquet(seedIndexDir.toString)
    }
    seedIndex = s.read.parquet(seedIndexDir.toString)
  }

  def start(tr: Tracer): Unit = {
    val s = spark
    implicit val ctx: org.apache.spark.sql.SQLContext = s.sqlContext
    import s.implicits._
    input = MemoryStream[(Long, String)]
    query = Streams.dedupDocs(input.toDF().toDF("doc_id", "text"), seedIndex, threshold,
        cumulativeIndexDir = Some(indexDir.toString)) { (dups, batchId) =>
      val got = tr.span("streaming.sink", stepIdx, parent = batchSpan) {
        dups.select("doc_id", "dup_of").as[(Long, Long)].collect().toSet
      }
      reported.synchronized(reported(batchId) = got)
    }
    tr.alias(query.runId.toString, "streaming.batch")
  }

  def stop(): Unit = if (query != null) { query.stop(); query = null }

  /** Adds step `s`'s docs (none when `empty`) and waits until they are processed;
    * returns the pairs the batches reported. */
  def step(s: Int, empty: Boolean, tr: Tracer): Set[(Long, Long)] = tr.span("streaming.batch", s) {
    stepIdx = s
    batchSpan = tr.current
    val before = reported.synchronized(reported.keySet.toSet)
    if (empty) input.addData(Nil)
    else input.addData(plan(s)._1.map(id => (id, texts(id))))
    query.processAllAvailable()
    reported.synchronized(reported.keySet.toSet -- before).toSeq
      .flatMap(b => reported.synchronized(reported(b))).toSet
  }

  def compact(): Int = Streams.compactDedupIndex(spark, indexDir.toString)

  def indexDirs: Int =
    if (!Files.isDirectory(indexDir)) 0
    else {
      val s = Files.list(indexDir)
      try s.filter(d => d.getFileName.toString.startsWith("batch_id=")).count().toInt
      finally s.close()
    }

  def indexBytes: Long = Seq(seedIndexDir, indexDir).filter(Files.isDirectory(_)).map { d =>
    val s = Files.walk(d)
    try s.filter(f => Files.isRegularFile(f) && f.getFileName.toString.endsWith(".parquet"))
      .mapToLong(f => Files.size(f)).sum()
    finally s.close()
  }.sum
}

object StreamDedup {
  /** Time of one compaction cycle (a compaction and `compactEvery` batches)
    * on a 4-core box; sets how many cycles `--seconds` buys. */
  val NominalCycleS = 5.0
}
