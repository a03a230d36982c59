package graft.etl

import org.apache.spark.sql.SparkSession
import graft.sources.SingleFileSink

/** Volume export (ref write_to_volume.py:7-16): discover the city's gold
  * tables from the catalog and export each as single-file JSON and CSV.
  */
object Export {

  /** Discover catalog tables whose name contains the city (ref
    * write_to_volume.py:7-8): the tables and temp views of the current
    * database, as `spark.catalog.listTables()` lists them. Read from the
    * session catalog on the driver, because `listTables()` collects its
    * listing through a Spark job. */
  def discoverGoldTables(spark: SparkSession, city: String): Seq[String] =
    spark.sessionState.catalog.listTables(spark.catalog.currentDatabase)
      .map(_.table).filter(_.contains(city))

  /** Export each discovered table as <dir>/<name>.json and <name>.csv
    * (ref write_to_volume.py:12-16; CSV natively instead of toPandas). */
  def exportAll(spark: SparkSession, city: String, dir: String): Seq[String] = {
    val tables = discoverGoldTables(spark, city)
    tables.foreach { name =>
      val df = spark.table(name)
      SingleFileSink.json(df, s"$dir/$name.json")
      SingleFileSink.csv(df, s"$dir/$name.csv")
    }
    tables
  }
}
