package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

object SparkSpec {
  /** The live spec session, or a new one if the last was stopped. */
  def session(): SparkSession = {
    val s = graft.GraftSession.builder("graft-test", shufflePartitions = Some(4))
      .master("local[4]")
      .config("spark.sql.warehouse.dir", "/tmp/graft-warehouse")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    graft.functions.GraftExtensions.register(s)
    s
  }
}

/** Shared local session for specs (one per suite, lazily). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session()

  def sf(dir: String = "sf0.001"): String = s"/root/testdata/$dir"
}
