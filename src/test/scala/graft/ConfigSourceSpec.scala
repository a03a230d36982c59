package graft

import graft.etl.ConfigSource

/** Pins the reference's cross-task config semantics (ref utils.py:43-46):
  * config is fetched when a stage RUNS, not when the pipeline was wired —
  * an edit landing between two stages is observed by the second one.
  */
class ConfigSourceSpec extends SparkSpec {

  private def writeConfig(dir: java.nio.file.Path, rows: (String, String)*): Unit = {
    val body = ("from,to" +: rows.map { case (a, b) => s"$a,$b" }).mkString("\n")
    java.nio.file.Files.writeString(dir.resolve("config_renames.csv"), body)
    ()
  }

  test("each stage observes the config as of its own start") {
    val dir = java.nio.file.Files.createTempDirectory("graft-config")
    writeConfig(dir, "Q5: Gender" -> "Gender")
    val first = ConfigSource.stage(spark, dir.toString)(_.colsToRename)
    assert(first == Map("Q5: Gender" -> "Gender"))
    // the mid-pipeline edit: second stage must see it, not a memo of v1
    writeConfig(dir, "Q5: Gender" -> "Gender", "Q9: Age" -> "Age")
    val second = ConfigSource.stage(spark, dir.toString)(_.colsToRename)
    assert(second == Map("Q5: Gender" -> "Gender", "Q9: Age" -> "Age"))
  }

  private def tempSheet(body: String): String = {
    val f = java.nio.file.Files.createTempDirectory("graft-sheet").resolve("s.csv")
    java.nio.file.Files.writeString(f, body)
    f.toString
  }

  test("the driver-side parse equals spark.read.csv on quoted commas, " +
    "empty cells, CRLF line ends and a trailing blank line") {
    val bodies = Seq(
      "from,to\n\"Q1: Where, exactly?\",Where\n\"say \"\"hi\"\"\",Hi\n",
      "from,to\r\nA,\r\n,B\r\n\"\",C\r\nD,\"\"\r\n",
      "from,to\nA,1\nB,2\n\n",
      "\nfrom,to\n  \nA,1,extra\nB\n \t \n",
      "from,to\rA,1\rB, 2 \r")
    bodies.foreach { body =>
      val file = tempSheet(body)
      val expected = spark.read.option("header", "true").csv(file).collect()
        .map(_.toSeq.map(_.asInstanceOf[String])).toSeq
      assert(ConfigSource.sheet(spark, file).map(_.toSeq) == expected,
        s"sheet ${body.replace("\r", "\\r").replace("\n", "\\n")}")
    }
  }

  test("a missing sheet fails where it is read, naming the file") {
    val dir = java.nio.file.Files.createTempDirectory("graft-config").toString
    val e = intercept[IllegalArgumentException](ConfigSource.load(spark, dir))
    assert(e.getMessage.contains(s"$dir/config_renames.csv"))
  }

  test("a renames row with a blank target fails, naming the file and the row") {
    val dir = java.nio.file.Files.createTempDirectory("graft-config")
    java.nio.file.Files.writeString(dir.resolve("config_renames.csv"),
      "from,to\nQ5: Gender,Gender\nQ9: Age,\n")
    val e = intercept[IllegalArgumentException](
      ConfigSource.renames(spark, dir.toString))
    assert(e.getMessage.contains(s"$dir/config_renames.csv"))
    assert(e.getMessage.contains("row 2"))
  }
}
