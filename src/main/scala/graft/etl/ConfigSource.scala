package graft.etl

import com.univocity.parsers.csv.CsvParser
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.csv.{CSVExprUtils, CSVOptions}

/** Per-stage config fetch semantics (ref utils.py:43-46): each reference
  * notebook task re-reads its spreadsheet config AT TASK START — config is
  * never memoized across stages, so an edit landing between the extract
  * and the transform is picked up by the transform. The engine's
  * equivalent: [[load]] re-reads the rename map from its CSV every call,
  * and [[stage]] makes the contract explicit — a fresh config is fetched
  * when the stage RUNS, not when the pipeline was wired up. Config sheets
  * are spreadsheet-sized (tens of rows), so they are parsed on the
  * driver: a `spark.read.csv` of one costs a file listing, two
  * header-inference jobs and a planned query per read, ~100× the parse.
  */
object ConfigSource {

  /** Read the column-rename map fresh from `dir/config_renames.csv`
    * (two columns: from,to — header row). A missing sheet or a row with
    * a blank target fails here, naming the file and the row. */
  def renames(spark: SparkSession, dir: String): Map[String, String] = {
    val file = s"$dir/config_renames.csv"
    sheet(spark, file).zipWithIndex.map { case (row, i) =>
      if (row.length < 2 || row(1) == null)
        throw new IllegalArgumentException(
          s"config sheet $file, row ${i + 1} (${row.mkString(",")}): " +
            "the target column name is blank")
      row(0) -> row(1)
    }.toMap
  }

  /** The data rows of a header-first CSV sheet, read on the driver
    * through the session's Hadoop `FileSystem` and parsed as
    * `spark.read.option("header", "true").csv(file)` parses it: the same
    * line splitting (LF, CR or CRLF; one record per line), the same
    * header and blank-line handling (`CSVExprUtils`), the same univocity
    * settings (`CSVOptions.asParserSettings`), and a cell equal to the
    * null value (an empty cell) read as null. Each row has the header's
    * width: missing cells are null, extra cells are dropped. */
  private[graft] def sheet(spark: SparkSession, file: String): Seq[Array[String]] = {
    val path = new Path(file)
    val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(path))
      throw new IllegalArgumentException(s"config sheet not found: $file")
    val options = new CSVOptions(Map("header" -> "true"), false,
      spark.sessionState.conf.sessionLocalTimeZone)
    val parser = new CsvParser(options.asParserSettings)
    val reader = new java.io.BufferedReader(
      new java.io.InputStreamReader(fs.open(path), options.charset))
    try {
      val lines = Iterator.continually(reader.readLine()).takeWhile(_ != null)
      CSVExprUtils.extractHeader(lines, options) match {
        case None => Nil
        case Some(header) =>
          val width = parser.parseLine(header).length
          CSVExprUtils.filterCommentAndEmpty(lines, options).map { line =>
            val cells = parser.parseLine(line)
            Array.tabulate(width) { i =>
              if (i >= cells.length || cells(i) == options.nullValue) null
              else cells(i)
            }
          }.toVector
      }
    } finally reader.close()
  }

  /** A [[SurveyConfig]] whose spreadsheet-driven parts are re-read from
    * `dir` at THIS call. */
  def load(spark: SparkSession, dir: String): SurveyConfig =
    SurveyConfig.kingston.copy(colsToRename = renames(spark, dir))

  /** Run one pipeline stage under a freshly-fetched config. Stages
    * composed as `stage(s, dir)(cfg => ...)` each observe the config as
    * of their own start time — the reference's cross-task semantics. */
  def stage[T](spark: SparkSession, dir: String)(f: SurveyConfig => T): T =
    f(load(spark, dir))
}
