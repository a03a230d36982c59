package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import scala.collection.immutable.ListMap
import graft.etl.SurveyConfig
import graft.operators.ColumnOps

/** The silver transform as Column expressions, before its per-cell work
  * moved into the `graft.expressions` survey kernels: the equivalence
  * oracle of [[SilverKernelSpec]]. Only the score columns' order differs
  * from the original form, which appended them in hash-map order. */
object ColumnExprSilver {
  private val TimestampFmt = "MM/dd/yyyy h:mm:ss a"

  def transform(bronze: DataFrame, cfg: SurveyConfig): DataFrame = {
    val steps: Seq[DataFrame => DataFrame] = Seq(
      repairHeaderMojibake,
      scrubStringValues,
      nullPhraseScrub(_, cfg),
      nanScrub,
      timestamps,
      likertScores(_, cfg),
      recodes,
      validityFlag,
      dropConfigured(_, cfg))
    steps.foldLeft(bronze)((df, step) => step(df))
  }

  private def repairHeaderMojibake(df: DataFrame): DataFrame =
    ColumnOps.normalizeHeaders(df)

  private def scrubStringValues(df: DataFrame): DataFrame =
    df.select(df.schema.fields.map { f =>
      if (f.dataType == StringType)
        translate(replace(col(f.name), lit("â€™"), lit("'")), "Ã", "i")
          .as(f.name)
      else col(f.name)
    }.toSeq: _*)

  private def nullPhraseScrub(df: DataFrame, cfg: SurveyConfig): DataFrame = {
    val present = cfg.openTextFields.filter(df.columns.contains)
    if (present.isEmpty) return df
    df.withColumns(present.map { c =>
      val normalized = trim(regexp_replace(lower(col(c)), "[^\\w\\s]", ""))
      c -> when(normalized.isin(cfg.nullPhrases: _*), lit(null))
        .otherwise(col(c))
    }.toMap)
  }

  private def nanScrub(df: DataFrame): DataFrame =
    df.select(df.schema.fields.map { f =>
      if (f.dataType == StringType)
        when(col(f.name) === "nan", lit(null)).otherwise(col(f.name)).as(f.name)
      else col(f.name)
    }.toSeq: _*)

  private def timestamps(df: DataFrame): DataFrame = {
    if (!df.columns.contains("Time Started") ||
      !df.columns.contains("Survey Date Submitted")) df
    else {
      val diff = unix_timestamp(col("Survey Date Submitted")) -
        unix_timestamp(col("Time Started"))
      df.withColumns(Map(
        "Time Started" ->
          expr(s"try_to_timestamp(`Time Started`, '$TimestampFmt')"),
        "Survey Date Submitted" ->
          expr(s"try_to_timestamp(`Survey Date Submitted`, '$TimestampFmt')")))
        .withColumns(Map(
          "Time Difference" -> diff,
          "Time Difference (Minutes)" -> round(diff / 60)))
    }
  }

  private def likertScores(df: DataFrame, cfg: SurveyConfig): DataFrame = {
    val present = cfg.likertColumns.filter(df.columns.contains)
    if (present.isEmpty) return df
    val mapLit = map(SurveyConfig.LikertMapping.toSeq
      .flatMap { case (k, v) => Seq(lit(k), lit(v)) }: _*)
    val scored = df.withColumns(present.map { c =>
      c -> coalesce(element_at(mapLit, col(c)), lit(0))
    }.toMap)
    val domains = cfg.likertColumnsDict
      .filter { case (_, cols) => cols.forall(scored.columns.contains) }
      .map { case (scoreCol, cols) =>
        scoreCol -> round(cols.map(col).reduce(_ + _) / lit(cols.size), 2)
      }
    val grand =
      if (present.size == cfg.likertColumns.size)
        Map("5DW Score: Everything" ->
          round(present.map(col).reduce(_ + _) / lit(present.size), 2))
      else Map.empty[String, org.apache.spark.sql.Column]
    val all = ListMap((domains ++ grand).toSeq: _*)
    if (all.isEmpty) scored else scored.withColumns(all)
  }

  private def recodes(df0: DataFrame): DataFrame = {
    val has = df0.columns.toSet
    val out = scala.collection.mutable.LinkedHashMap.empty[String, Column]
    if (has("Race/Ethnicity") && has("Hispanic or Latinx"))
      out("Race/Ethnicity") =
        when(col("Hispanic or Latinx") === "Yes", "Hispanic or Latinx")
          .otherwise(
            when(col("Race/Ethnicity") === "Some other race (please write it in here)", "Other race")
              .when(col("Race/Ethnicity") === "I prefer not to answer this question", "Unknown")
              .when(col("Race/Ethnicity").isNull, "Unknown")
              .otherwise(col("Race/Ethnicity")))
    if (has("Gender"))
      out("Gender") =
        when(col("Gender").isNull || col("Gender") === "Prefer not to say", "Unknown")
          .when(col("Gender") === "Write In", "Other")
          .otherwise(col("Gender"))
    if (has("CM Name"))
      out("CM Name") =
        when(col("CM Name").isNull || trim(col("CM Name")) === "", "Unknown")
          .otherwise(col("CM Name"))
    if (has("Current living situation"))
      out("Current living situation") =
        when(col("Current living situation").isNull ||
          trim(col("Current living situation")) === "" ||
          col("Current living situation") === "Prefer not to say", "Unknown")
          .otherwise(col("Current living situation"))
    val preferNot = Seq(
      "How many years lived in Kingston",
      "Why are you interested in this project?",
      "In a typical month, how difficult is it for your household to pay for usual household expenses?",
      "Hispanic or Latinx")
    preferNot.filter(has).foreach { c =>
      out(c) =
        when(col(c).isNull || trim(col(c)) === "" ||
          col(c) === "I prefer not to answer this question", "Unknown")
          .otherwise(col(c))
    }
    if (has("IP Address - Zip Code"))
      out("IP Address - Zip Code") =
        when(col("IP Address - Zip Code").isNull ||
          expr("try_cast(substring(`IP Address - Zip Code`, 1, 5) AS int)") === 0,
          "Unknown")
          .otherwise(col("IP Address - Zip Code").substr(1, 5))
    if (has("Age")) {
      val age = expr("try_cast(`Age` AS double)")
      out("Age") =
        when(age <= 0, "Unknown")
          .when(age < 10, "Less than 10 years old")
          .when(age < 18, "10 to 17 years old")
          .when(age < 30, "18 to 29 years old")
          .when(age < 45, "30 to 44 years old")
          .when(age < 60, "45 to 59 years old")
          .when(age < 75, "60 to 74 years old")
          .when(age < 120, "75 years and older")
          .otherwise("Unknown")
    }
    if (has("Household Income"))
      out("Household Income") =
        when(col("Household Income").isNull ||
          col("Household Income") === "I prefer not to answer this question", "Unknown")
          .when(col("Household Income") === "Less than $20,000" ||
            col("Household Income") === "$20,000 to $49,999", "Less than $50,000")
          .otherwise(col("Household Income"))
    if (out.isEmpty) df0 else df0.withColumns(out.toMap)
  }

  private def validityFlag(df: DataFrame): DataFrame = {
    val needed = Seq("Alchemer Admin Comments", "Survey Completed?",
      "Survey Link Used", "IP Address - Country")
    if (!needed.forall(df.columns.contains)) return df
    df.withColumn("Is_Invalid",
      when(upper(col("Alchemer Admin Comments")) === "OK" ||
        upper(col("Alchemer Admin Comments")) === "VALID", "Valid")
        .when(col("Survey Completed?") === "Partial",
          "Survey status is partially completed")
        .when(col("Survey Completed?") === "Disqualified",
          "Disqualified in Alchemer")
        .when(col("Survey Completed?") =!= "Complete",
          concat(lit("Survey status is "), col("Survey Completed?")))
        .when(col("Survey Link Used") === "Test link" ||
          col("Survey Link Used") === "Test",
          "Survey was submitted via test link")
        .when(col("IP Address - Country") =!= "United States",
          "IP address outside USA")
        .otherwise("Valid"))
  }

  private def dropConfigured(df: DataFrame, cfg: SurveyConfig): DataFrame =
    df.drop(cfg.colsToDelete :+ "Time Difference": _*)
}
