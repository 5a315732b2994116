package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session base for all specs (one JVM-wide session via
  * getOrCreate; configs align with Engine.localSession, GraftExtensions
  * included). */
trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .withExtensions(new GraftExtensions)
    .getOrCreate()

  def sf(dir: String = "sf0.001"): String = s"/root/testdata/$dir"

  /** Drop catalog tables and delete spark-warehouse dirs whose name
    * starts with `prefix` — materialize table names carry a
    * plan-derived token, so cleanup must match by prefix. */
  def purgeMatTables(prefix: String): Unit = {
    spark.catalog.listTables().collect()
      .filter(_.name.startsWith(prefix))
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS `${t.name}`"))
    val wh = new java.io.File("spark-warehouse")
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete()
    }
    if (wh.exists())
      wh.listFiles().filter(_.getName.startsWith(prefix)).foreach(rm)
  }
}
