package graft

import graft.etl._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.debug.codegenStringSeq
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** The silver kernels (`graft_survey_clean`, `graft_null_phrase`,
  * `graft_likert_score`, `graft_recode`) against the Column expressions
  * they replaced ([[ColumnExprSilver]]), and the generated-method budget
  * that motivated them. */
class SilverKernelSpec extends SparkSpec {

  private val OpenText = "Open Text: What would make things better?"
  private val PreferNot = "I prefer not to answer this question"

  /** The full-width Kingston bronze schema: every column a silver step
    * reads, every likert column, one open-text and one dropped column. */
  private val Columns: Seq[String] = Seq("Response ID", "Time Started",
    "Survey Date Submitted", "Survey Completed?", "Survey Link Used",
    "Alchemer Admin Comments", "IP Address - Country", "IP Address - Zip Code",
    "Age", "Gender", "Race/Ethnicity", "Hispanic or Latinx", "Household Income",
    "Survey Language", "CM Name", OpenText, "How many years lived in Kingston",
    "Why are you interested in this project?",
    "In a typical month, how difficult is it for your household to pay for usual household expenses?",
    "Current living situation") ++ SurveyConfig.kingston.likertColumns :+
    "Internal Notes"

  private val cfg = SurveyConfig.kingston.copy(
    openTextFields = Seq(OpenText), colsToDelete = Seq("Internal Notes"))

  private val base: Map[String, String] = Map(
    "Time Started" -> "01/15/2021 1:05:00 PM",
    "Survey Date Submitted" -> "01/15/2021 1:35:30 PM",
    "Survey Completed?" -> "Complete", "Survey Link Used" -> "Live link",
    "IP Address - Country" -> "United States",
    "IP Address - Zip Code" -> "12345-6789", "Age" -> "35", "Gender" -> "Male",
    "Race/Ethnicity" -> "White", "Hispanic or Latinx" -> "No",
    "Household Income" -> "$50,000 to $99,999", "Survey Language" -> "English",
    "CM Name" -> "CM A", OpenText -> "More parks",
    "Current living situation" -> "Renting") ++
    SurveyConfig.kingston.likertColumns.map(_ -> "No change")

  /** One bronze row per override map, on top of [[base]]; a key mapped to
    * null makes the cell null. */
  private def bronze(rows: Seq[Map[String, String]]): DataFrame = {
    val data = rows.zipWithIndex.map { case (over, i) =>
      val cells = base ++ over + ("Response ID" -> s"r$i")
      Row.fromSeq(Columns.map(c => cells.getOrElse(c, null)))
    }
    spark.createDataFrame(spark.sparkContext.parallelize(data, 2),
      StructType(Columns.map(StructField(_, StringType))))
  }

  /** Round-trip through parquet, so the transform runs in whole-stage
    * codegen over a scan, as it does on a catalog table. */
  private def viaParquet(df: DataFrame): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("graft-silver").toString +
      "/bronze"
    df.write.parquet(dir)
    spark.read.parquet(dir)
  }

  private def assertSameRows(actual: DataFrame, expected: DataFrame): Unit = {
    assert(actual.schema == expected.schema)
    assert(actual.exceptAll(expected).isEmpty, "rows only in the kernel output")
    assert(expected.exceptAll(actual).isEmpty, "rows only in the oracle output")
  }

  private def assertMatchesOracle(in: DataFrame, c: SurveyConfig): Unit =
    assertSameRows(Silver.transform(in, c), ColumnExprSilver.transform(in, c))

  private val edgeValues: Seq[String] = Seq(null, "", " ", "  ", "\t", "nan",
    "NaN", "NAN", " nan", "itâ€™s fine Ã", "â€™", "â€", "Ã", "ÃÃ", "Ã©",
    "Ã\u0083", "café", "İstanbul")

  /** Edge rows: every edge value in every column a kernel reads, plus
    * every recode, likert and null-phrase branch. */
  private lazy val edgeRows: Seq[Map[String, String]] = {
    val kernelColumns = Seq("Gender", "CM Name", "Current living situation",
      "How many years lived in Kingston", "Hispanic or Latinx",
      "Household Income", "Survey Language", OpenText,
      "Safety: Impact my safety", "Mastery: Control and choice")
    val everyCell = for (c <- kernelColumns; v <- edgeValues) yield Map(c -> v)
    val branches = Seq(
      "Gender" -> Seq("Prefer not to say", "Write In", "Female", "write in"),
      "CM Name" -> Seq("CM B", " CM B "),
      "Current living situation" -> Seq("Prefer not to say", "Own home"),
      "Why are you interested in this project?" -> Seq(PreferNot, "Curious"),
      "In a typical month, how difficult is it for your household to pay for usual household expenses?" ->
        Seq(PreferNot, "Very difficult"),
      "How many years lived in Kingston" -> Seq(PreferNot),
      "Hispanic or Latinx" -> Seq("Yes", PreferNot),
      "Race/Ethnicity" -> Seq("Some other race (please write it in here)",
        PreferNot, null, "Asian"),
      "Household Income" -> Seq(PreferNot, "Less than $20,000",
        "$20,000 to $49,999", "$100,000 or more"),
      "Safety: Impact my safety" -> (SurveyConfig.LikertMapping.keys.toSeq ++
        Seq("meh", "No Change", " No change", "A lot better ")),
      OpenText -> Seq("No thanks!", "N/A", "  none  ", "NONE", "not really",
        "nada mas que agregarnot really", "no-thank you", "Ñ/A",
        "substantive answer"),
      "Age" -> Seq("-1", "0", "9", "17", "119", "120", "abc", null),
      "IP Address - Zip Code" -> Seq("00000", "abcde", "1234", null),
      "Survey Completed?" -> Seq("Partial", "Disqualified", "Abandoned", null),
      "Alchemer Admin Comments" -> Seq("ok", "VALID", "needs review"),
      "Survey Link Used" -> Seq("Test link", "Test"),
      "IP Address - Country" -> Seq("Canada"),
      "Time Started" -> Seq("02/30/2021 1:05:00 PM", "not a timestamp", null))
    val branchRows = for ((c, vs) <- branches; v <- vs) yield Map(c -> v)
    // one row with every likert column unknown and one with all null
    val likert = SurveyConfig.kingston.likertColumns
    everyCell ++ branchRows ++ Seq(likert.map(_ -> "meh").toMap,
      likert.map(_ -> (null: String)).toMap)
  }

  /** Orders-shaped input for [[SurveyFixture.fromOrders]]. */
  private def orders(n: Int): DataFrame = spark.range(1, n + 1).select(
    col("id").as("o_orderkey"),
    (col("id") * 7 % 150).as("o_custkey"),
    when(col("id") % 3 === 0, "F").when(col("id") % 3 === 1, "O")
      .otherwise("P").as("o_orderstatus"),
    date_add(lit("1995-01-01").cast("date"), (col("id") % 900).cast("int"))
      .as("o_orderdate"))

  test("kernels equal the Column-expression oracle on SurveyFixture.fromOrders") {
    val in = SurveyFixture.fromOrders(orders(2000))
    assertMatchesOracle(in, SurveyConfig.kingston)
    assertMatchesOracle(viaParquet(in), cfg)
  }

  test("kernels equal the Column-expression oracle on edge rows " +
    "(codegen over parquet, and interpreted)") {
    val in = bronze(edgeRows)
    assertMatchesOracle(viaParquet(in), cfg)
    withSQLConf("spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
      assertMatchesOracle(in, cfg)
    }
  }

  test("edge rows land on the expected kernel results") {
    val out = Silver.transform(bronze(Seq(
      Map("Gender" -> "nan", OpenText -> "itâ€™s fine Ã"),
      Map("Gender" -> "NaN", OpenText -> "NaN"),
      Map("CM Name" -> "  ", "Safety: Impact my safety" -> "meh"),
      Map("CM Name" -> "\t", "Household Income" -> "$20,000 to $49,999"))), cfg)
      .select("Response ID", "Gender", OpenText, "CM Name",
        "Safety: Impact my safety", "Household Income")
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out("r0").getString(1) == "Unknown") // "nan" → null → Unknown
    assert(out("r0").getString(2) == "it's fine i")
    assert(out("r1").getString(1) == "NaN") // only lower-case nan is null
    assert(out("r1").isNullAt(2)) // open text: "NaN" lowers to a null phrase
    assert(out("r2").getString(3) == "Unknown")
    assert(out("r2").getInt(4) == 0)
    assert(out("r3").getString(3) == "\t") // trim strips spaces only
    assert(out("r3").getString(5) == "Less than $50,000")
  }

  test("every generated method of Silver.transform fits the JIT's " +
    "8,000-byte budget on the full-width Kingston schema") {
    val plan = Silver.transform(viaParquet(bronze(Seq(base))), cfg)
      .queryExecution.executedPlan
    val subtrees = codegenStringSeq(plan)
    assert(subtrees.nonEmpty, "no whole-stage codegen subtree")
    subtrees.foreach { case (tree, _, stats) =>
      assert(stats.maxMethodCodeSize <= 8000,
        s"a generated method of ${stats.maxMethodCodeSize} bytes exceeds " +
          s"HotSpot's HugeMethodLimit (8,000): the JIT will not compile it\n$tree")
    }
  }

  test("kernel arguments that are not literals of the right type fail at analysis") {
    graft.expressions.GraftFunctions.register(spark)
    val df = spark.range(1).select(lit("x").as("s"))
    val e1 = intercept[Exception](df.select(call_function("graft_recode",
      col("s"), col("s"), lit("Unknown"), lit(true))).collect())
    assert(e1.getMessage.contains("graft_recode"))
    val e2 = intercept[Exception](df.select(call_function("graft_likert_score",
      col("s"), typedLit(Map("a" -> "b")))).collect())
    assert(e2.getMessage.contains("graft_likert_score"))
  }

  private def withSQLConf[T](pairs: (String, String)*)(body: => T): T = {
    val prev = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
