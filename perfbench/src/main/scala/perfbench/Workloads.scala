package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.SparkEntry
import graft.etl.{Bronze, CensusMerge, ConfigSource, Export, Gold, Silver, SurveyConfig}
import graft.sources.TableSink

/** What one op hands back: its output rows when the op returns a result
  * (registry queries), and whether its own success signal held (a sink
  * that reports a failed write). */
final case class Outcome(ok: Boolean, result: Option[(Seq[String], Array[Row])] = None,
    detail: String = "")

/** Per-op context: the session plus span helpers that tie construct /
  * action / sink time to the op's span. */
final class OpCtx(val spark: SparkSession, val log: SpanLog, val op: Long,
    val tables: String, val inputs: String, val export: String) {
  def construct[T](body: => T): T = log.timed(op, op, "construct", "construct")(body)._1
  def action[T](name: String)(body: => T): T = log.timed(op, op, "action", name)(body)._1
  def sink[T](name: String)(body: => T): T = log.timed(op, op, "sink", name)(body)._1
}

final case class Op(name: String, run: OpCtx => Outcome)

/** A workload: its ops, whether ops keep their order (a pipeline) or run
  * in a seeded order, whether scratch is released after each op, and the
  * post-pass checks of its outputs. */
trait Workload {
  def name: String
  def ops: Seq[Op]
  def ordered: Boolean
  def releaseAfterOp: Boolean
  /** Untimed passes before timing starts; pass 0 is checked against the
    * expected outputs. */
  def warmupPasses: Int
  /** Session-level staging that precedes the warm-up pass. */
  def stage(spark: SparkSession, inputs: String, export: String): Unit = ()
  /** Checks after one pass; returns (op name, ok, detail) per check. */
  def check(spark: SparkSession, pass: Int, results: Map[String, Outcome],
      inputs: String, export: String): Seq[(String, Boolean, String)]
  /** Output tables / directories written by the workload's sinks. */
  def sinkDirs(warehouse: String, export: String): Seq[String] = Nil
}

object Workloads {
  def byName(name: String, expected: Map[String, Fingerprint.Fp]): Workload = name match {
    case "survey_pipeline" => new SurveyPipeline
    case "query_floor" => new Registry("query_floor", QueryFloor, expected)
    case "curation" => new Registry("curation", Curation, expected)
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  /** The registry's sub-0.5 s families, minus the one sink query and the
    * one multi-second query. */
  def QueryFloor: Seq[String] = SparkEntry.queries.keys.toSeq.sorted
    .filter(n => "^(a|f|j|o|p|u|w)\\d".r.findFirstIn(n).isDefined)
    .filterNot(Set("j6_bucketed_join", "j7_null_safe_join"))

  val Curation: Seq[String] = Seq("dd_minhash_neardup", "dd_cluster",
    "sim_topk_ivf_pruned", "sim_topk_ivfpq_refined", "an_pagerank",
    "ta_ngram_counts", "st_join")

  def registryNames(workload: String): Seq[String] = workload match {
    case "query_floor" => QueryFloor
    case "curation" => Curation
    case _ => Nil
  }
}

/** Registry queries run through `SparkEntry.queries`, each collected to the
  * client. The warm-up result must match the DuckDB-derived expected
  * fingerprint; later passes must return the same row count. */
final class Registry(val name: String, names: Seq[String],
    expected: Map[String, Fingerprint.Fp]) extends Workload {
  val ordered = false
  val releaseAfterOp = true
  val warmupPasses = 1
  val ops: Seq[Op] = names.map { q =>
    val fn = SparkEntry.queries.getOrElse(q, sys.error(s"unknown query: $q"))
    Op(q, ctx => {
      val df = ctx.construct(fn(ctx.spark, ctx.tables))
      val rows = ctx.action("collect")(df.collect())
      Outcome(ok = true, result = Some((df.columns.toSeq, rows)))
    })
  }

  def check(spark: SparkSession, pass: Int, results: Map[String, Outcome],
      inputs: String, export: String): Seq[(String, Boolean, String)] =
    results.toSeq.collect { case (q, Outcome(true, Some((cols, rows)), _)) =>
      expected.get(q) match {
        case None => (q, false, "no expected fingerprint")
        case Some(exp) if pass == 0 =>
          val fp = Fingerprint.of(cols, rows)
          (q, fp == exp, s"fingerprint $fp, expected $exp")
        case Some(exp) =>
          (q, rows.length == exp.rows, s"rows ${rows.length}, expected ${exp.rows}")
      }
    }
}

/** The reference's five-task survey job. Each stage reads the previous
  * stage's catalog table and writes its own through `TableSink`, as each
  * task of the reference workflow does; the last exports the city's gold
  * tables as single-file JSON and CSV. */
final class SurveyPipeline extends Workload {
  val name = "survey_pipeline"
  val ordered = true
  val releaseAfterOp = false
  // one untimed pass after the checked one: the first passes of this short
  // pipeline are still dominated by JIT and codegen
  val warmupPasses = 2
  private val BronzeT = "perfbench_bronze_survey"
  private val SilverT = "perfbench_silver_survey"
  private val RollupT = "gold_kingston_rollup"
  private val CensusT = "gold_kingston_census_merge"
  private val City = "kingston"

  private def csv(s: SparkSession, path: String): DataFrame =
    s.read.option("header", "true").csv(path)

  /** The reference re-reads its config sheets at each task start. */
  private def config(s: SparkSession, dir: String): SurveyConfig = {
    def column(file: String): Seq[String] =
      csv(s, s"$dir/$file").collect().map(_.getString(0)).toSeq
    ConfigSource.load(s, dir).copy(
      openTextFields = column("config_open_text.csv"),
      colsToDelete = column("config_drops.csv"))
  }

  private def write(ctx: OpCtx, df: DataFrame, table: String): Outcome = {
    val ok = ctx.sink(s"writeTable:$table")(TableSink.writeTable(df, table))
    Outcome(ok, detail = if (ok) "" else s"writeTable($table) returned false")
  }

  val ops: Seq[Op] = Seq(
    Op("extract", ctx => write(ctx, ctx.construct {
      ConfigSource.stage(ctx.spark, ctx.inputs)(cfg => Bronze.ingest(
        csv(ctx.spark, s"${ctx.inputs}/survey_online.csv"),
        csv(ctx.spark, s"${ctx.inputs}/survey_offline.csv"), cfg))
    }, BronzeT)),
    Op("transform", ctx => write(ctx, ctx.construct {
      Silver.transform(ctx.spark.table(BronzeT), config(ctx.spark, ctx.inputs))
    }, SilverT)),
    Op("roll_up", ctx => write(ctx, ctx.construct {
      val (valid, _) = Gold.validSplit(ctx.spark.table(SilverT))
      Gold.rollup(valid, config(ctx.spark, ctx.inputs))
    }, RollupT)),
    Op("merge_census", ctx => write(ctx, ctx.construct {
      CensusMerge.merge(csv(ctx.spark, s"${ctx.inputs}/census.csv"),
        ctx.spark.table(RollupT), ctx.spark.table(SilverT),
        config(ctx.spark, ctx.inputs))
    }, CensusT)),
    Op("write_to_volume", ctx => {
      val tables = ctx.sink("exportAll")(Export.exportAll(ctx.spark, City, ctx.export))
      val ok = tables.sorted == Seq(CensusT, RollupT)
      Outcome(ok, detail = if (ok) "" else s"exported $tables")
    }))

  override def stage(spark: SparkSession, inputs: String, export: String): Unit = {
    Seq(BronzeT, SilverT, RollupT, CensusT).foreach(TableSink.dropPurge(spark, _))
    Files.deleteTree(export)
  }

  override def sinkDirs(warehouse: String, export: String): Seq[String] =
    Seq(BronzeT, SilverT, RollupT, CensusT).map(t => s"$warehouse/$t") :+ export

  private val goldFingerprints = scala.collection.mutable.Map.empty[String, Fingerprint.Fp]
  private var inputRows = -1L

  def check(spark: SparkSession, pass: Int, results: Map[String, Outcome],
      inputs: String, export: String): Seq[(String, Boolean, String)] = {
    def count(t: String) = spark.table(t).count()
    if (inputRows < 0) inputRows = Seq("survey_online.csv", "survey_offline.csv")
      .map(f => csv(spark, s"$inputs/$f").count()).sum
    val bronze = count(BronzeT)
    val silver = count(SilverT)
    val counts = Seq(
      ("extract", bronze == inputRows, s"bronze rows $bronze, input rows $inputRows"),
      ("transform", silver == bronze, s"silver rows $silver, bronze rows $bronze"))
    // every valid response is counted once per demographic
    val valid = spark.table(SilverT).filter(col("Is_Invalid") === "Valid").count()
    val totals = spark.table(RollupT).groupBy("Demographic")
      .agg(sum(col("# of Survey Responses")).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val demographics = SurveyConfig.kingston.demographics.map(_._2).toSet
    val reconcile = ("roll_up",
      totals.keySet == demographics && totals.values.forall(_ == valid),
      s"per-demographic totals $totals, silver valid rows $valid")
    // gold outputs are a fixed function of the seed: every pass reproduces
    // the warm-up fingerprint
    val fixed = Seq(RollupT -> "roll_up", CensusT -> "merge_census").map { case (t, op) =>
      val df = spark.table(t)
      val fp = Fingerprint.of(df.columns.toSeq, df.collect())
      val first = goldFingerprints.getOrElseUpdate(t, fp)
      (op, fp == first, s"$t fingerprint $fp, warm-up $first")
    }
    val roundTrip =
      if (pass != 0) Nil
      else Seq(RollupT, CensusT).map { t =>
        val n = count(t)
        val json = spark.read.json(s"$export/$t.json").count()
        val csvRows = csv(spark, s"$export/$t.csv").count()
        ("write_to_volume", json == n && csvRows == n,
          s"$t rows $n, exported json $json, csv $csvRows")
      }
    counts ++ Seq(reconcile) ++ fixed ++ roundTrip
  }
}

object Files {
  def deleteTree(path: String): Unit = {
    def rec(f: java.io.File): Unit = {
      Option(f.listFiles).iterator.flatten.foreach(rec)
      f.delete(); ()
    }
    rec(new java.io.File(path))
  }

  /** (files, bytes) of the data files under `path` (hidden and marker files
    * excluded). */
  def dataFiles(path: String): (Long, Long) = {
    val root = new java.io.File(java.net.URI.create(
      if (path.contains(":")) path else s"file:$path"))
    def rec(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(rec)
      else if (f.isFile && !f.getName.startsWith(".") && !f.getName.startsWith("_"))
        Seq(f)
      else Nil
    val fs = rec(root)
    (fs.size.toLong, fs.map(_.length).sum)
  }
}
