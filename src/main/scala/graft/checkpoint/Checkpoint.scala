package graft.checkpoint

import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths, StandardOpenOption}

/**
 * Stage checkpointing with per-partition lineage + metrics (SURVEY.md
 * §1.5: the reference's Kryo .bin corpus caches — WebTables.java:280-299,
 * KnowledgeBase.java:320-339 — become columnar checkpoint tables; on a
 * cluster the same layout is Iceberg snapshots, in the sandbox Parquet).
 *
 * A resumed run re-reads a completed stage instead of recomputing it
 * (resumability across the iteration loop). The manifest (JSONL, one line
 * per stage) records stage name, row count, partition count, per-partition
 * row counts and wall time — the "per-partition lineage + metrics" the
 * north rule asks for.
 */
trait Checkpointer {
  def apply(name: String, df: => DataFrame): DataFrame
  /** True when stages persist across runs (resume contract). Pipelines may
    * skip barriers for single-consumer stages when the checkpointer is
    * NOT durable: a truncation barrier on a stage with exactly one
    * consumer buys no plan-size or recompute reduction — it only costs a
    * full extra materialisation round (measured on the micro corpus:
    * ~1-2 s per barrier, pure AQE/scheduling overhead). Durable
    * checkpointers keep every stage so the on-disk manifest and resume
    * behavior are unchanged. */
  def durable: Boolean = false
}

/** Materialise each stage through [[Materialize]] (its master-decided
  * policy). Stage outputs are reused by several downstream joins, and
  * every reuse would otherwise inline the whole upstream logical plan —
  * plan size grows exponentially with pipeline depth without the cut.
  * ParquetCheckpointer gives the same cut plus durability/resume. */
object LocalCheckpointer extends Checkpointer {
  def apply(name: String, df: => DataFrame): DataFrame = Materialize(df)
}

class ParquetCheckpointer(spark: SparkSession, dir: String) extends Checkpointer {
  override def durable: Boolean = true
  Files.createDirectories(Paths.get(dir))
  private val manifestPath = Paths.get(dir, "manifest.jsonl")

  private def donePath(name: String) = Paths.get(dir, name, "_GRAFT_DONE")

  def apply(name: String, df: => DataFrame): DataFrame = {
    val path = s"$dir/$name"
    if (Files.exists(donePath(name))) {
      spark.read.parquet(path)          // resume: stage already materialised
    } else {
      val t0 = System.nanoTime()
      df.write.mode("overwrite").parquet(path)
      val back = spark.read.parquet(path)
      // per-partition lineage from parquet FOOTERS (metadata only) — the
      // round-1 groupBy(spark_partition_id).count re-scanned every stage's
      // data a second time, doubling checkpoint I/O
      val conf = spark.sessionState.newHadoopConf()
      val hPath = new org.apache.hadoop.fs.Path(path)
      val fs = hPath.getFileSystem(conf)
      val perPart = fs.listStatus(hPath)
        .filter(_.getPath.getName.endsWith(".parquet"))
        .sortBy(_.getPath.getName)
        .map { f =>
          val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
            org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(f, conf))
          try rd.getRecordCount finally rd.close()
        }
      val wallMs = (System.nanoTime() - t0) / 1000000
      val line = s"""{"stage":"${name}","rows":${perPart.sum},""" +
        s""""partitions":${perPart.length},"perPartitionRows":[${perPart.mkString(",")}],""" +
        s""""wallMs":$wallMs}""" + "\n"
      Files.writeString(manifestPath, line,
        StandardOpenOption.CREATE, StandardOpenOption.APPEND)
      Files.createFile(donePath(name))
      back
    }
  }
}
