package perfbench

import graft.checkpoint.{Checkpointer, LocalCheckpointer}
import graft.fixtures.ScaleGen
import graft.kb.KbIngest
import graft.pipeline.T2KPipeline
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path}

/** Outcome of one operation's correctness check. */
final case class Check(ok: Boolean, f1: Double, detail: String)

object Check {
  /** F1 of a predicted set against a gold set. */
  def f1[T](predicted: Set[T], gold: Set[T]): Double = {
    val tp = predicted.count(gold.contains).toDouble
    if (tp == 0) 0.0 else 2 * tp / (predicted.size + gold.size)
  }
}

/** Orderless checksum of a frame's rows: row count and the sum of each
  * row's xxhash64 over `cols`. */
private object Checksum {
  def of(df: DataFrame, cols: Seq[String]): (Long, BigDecimal) = {
    val r = df.agg(count(lit(1)),
      sum(xxhash64(cols.map(col): _*).cast("decimal(38,0)"))).head()
    (r.getLong(0), Option(r.getDecimal(1)).map(BigDecimal(_)).getOrElse(BigDecimal(0)))
  }
}

/**
 * The paper's workload: web tables matched to a Zipfian KB.
 * `KbIngest.fromLongForm`, then `T2KPipeline.run` with the default
 * checkpointer, then a parquet write of the triples. The harness runs
 * whole passes over one corpus: a warm-up pass (pass -1), then the
 * measured ones.
 */
final class T2kMatch(seed: Long, work: Path, expected: Map[Long, String]) {
  // As many docs as ScaleSpec's 40 x 25 corpus; the pass cost is mostly
  // fixed, so a larger corpus buys little but run time. Spread over 80
  // tables, the seeded class mix of the tables varies less between seeds,
  // and so does the pass time (4-core box, seeds 302 vs 304: 12-15% apart
  // at 40 x 25, 3% at 80 x 12).
  val cfg = ScaleGen.Config(nClasses = 8, nEntities = 2000, nTables = 80,
    rowsPerTable = 12, vocab = 60000, seed = seed)
  /** Input documents of one pass. */
  def docs: Long = cfg.nTables.toLong * (cfg.rowsPerTable + 1)
  /** Time of one warm pass on a 4-core box; sets how many passes `--seconds` buys. */
  def nominalPassS: Double = 25.0
  private val hierarchy = ScaleGen.hierarchy(cfg)
  private var spark: SparkSession = _
  private var webDocs, kbLong, surfaceForms: DataFrame = _
  private var goldInstance: Set[(String, Int, String)] = _
  private var goldSchema: Set[(String, Int, String)] = _
  private var goldClass: Set[(String, String)] = _
  private var kb: KbIngest.Ingested = _
  private var result: graft.pipeline.T2KResult = _
  private var firstChecksum: Option[String] = None

  /** Generates and materialises the inputs (set-up, not measured). */
  def setup(s: SparkSession, tr: Tracer): Unit = {
    spark = s
    import s.implicits._
    val (d, gi, gp, gc) = ScaleGen.webCorpus(s, cfg)
    webDocs = d.localCheckpoint(true)
    kbLong = ScaleGen.kbLongForm(s, cfg).localCheckpoint(true)
    surfaceForms = ScaleGen.surfaceForms(s, cfg).localCheckpoint(true)
    goldInstance = gi.as[(String, Int, String)].collect().toSet
    goldSchema = gp.as[(String, Int, String)].collect().toSet
    goldClass = gc.as[(String, String)].collect().toSet
  }

  private def out(i: Int) = work.resolve(s"triples-$i").toString

  /** One pass: the calls into graft's modules. */
  def pass(i: Int, tr: Tracer): Unit = {
    kb = tr.span("kb.fromLongForm", i) {
      KbIngest.fromLongForm(spark, kbLong, hierarchy)
    }
    val ckpt = if (tr.enabled) new SpannedCheckpointer(tr, i) else LocalCheckpointer
    result = tr.span("pipeline.run", i) {
      T2KPipeline.run(webDocs, kb, surfaceForms, hierarchy.toMap, ckpt = ckpt)
    }
    tr.span("triples.write", i) {
      result.triples.write.mode("overwrite").parquet(out(i))
    }
  }

  /** Checks pass `i`'s outputs against the planted truth (not measured)
    * and releases them. */
  def check(i: Int): Check = {
    val s = spark
    import s.implicits._
    val inst = result.instanceCorrs.select("tableName", "rowNum", "uri")
      .as[(String, Int, String)].collect().toSet
    val schema = result.schemaCorrs.join(kb.props.select("propId", "propUri"), "propId")
      .select("tableName", "colIdx", "propUri").as[(String, Int, String)].collect().toSet
    val cls = result.classCorrs.select("tableName", "className")
      .as[(String, String)].collect().toSet
    val f1s = Seq("instance" -> Check.f1(inst, goldInstance),
      "schema" -> Check.f1(schema, goldSchema), "class" -> Check.f1(cls, goldClass))
    val (n, sum) = Checksum.of(spark.read.parquet(out(i)), Seq("subjectUri", "predicateUri",
      "objectValue", "kbValue", "isNew", "lcwaCorrect", "sourceTable", "sourceRow", "sourceCol"))
    val cs = s"$n:$sum"
    if (firstChecksum.isEmpty) firstChecksum = Some(cs)
    result.release()
    spark.catalog.clearCache()
    Dirs.deleteTree(work.resolve(s"triples-$i"))
    val f1 = f1s.map(_._2).min
    val problems = f1s.collect { case (k, v) if v < T2kMatch.MinF1 => f"$k F1 $v%.4f < ${T2kMatch.MinF1}" } ++
      (if (n == 0) Seq("no triples written") else Nil) ++
      (if (firstChecksum.contains(cs)) Nil else Seq(s"triples checksum $cs differs from the first pass")) ++
      expected.get(seed).filter(_ != cs).map(e => s"triples checksum $cs != recorded $e for seed $seed")
    Check(problems.isEmpty, f1,
      (f1s.map { case (k, v) => f"$k=$v%.4f" } :+ s"triples=$cs").mkString(" ") +
        problems.map("; FAIL " + _).mkString)
  }

  /** LocalCheckpointer with one span per pipeline stage (traced passes only). */
  private final class SpannedCheckpointer(tr: Tracer, pass: Int) extends Checkpointer {
    def apply(name: String, df: => DataFrame): DataFrame =
      tr.span(s"checkpoint.$name", pass)(LocalCheckpointer(name, df))
  }
}

object T2kMatch {
  /** Minimum instance, schema and class F1 a pass must reach. It catches
    * empty or broken output; exact regressions are caught by the recorded
    * triples checksums. It sits below ScaleSpec's 0.95 because on some
    * seeds the matcher leaves the numeric column of many tables unmatched
    * while making no wrong match (40 x 25 corpus, seed 202: 16 of 40 tables,
    * schema F1 0.947; this corpus, seeds 301-305: schema F1 0.93-0.95). */
  val MinF1 = 0.90
}

object Dirs {
  /** Removes a directory tree if it exists. */
  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
    finally s.close()
  }
}
