package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for specs — sf0.001 data keeps tests fast. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  val sfDir = "/root/testdata/sf0.001"

  /** A session of its own whose table `name` starts as `rows` built in
    * it, registered through TableLog like a facade's table: PQL write
    * programs commit to it and leave the shared session's tables alone. */
  def sessionWith(name: String)(rows: SparkSession => DataFrame): SparkSession = {
    val s = spark.newSession()
    graft.core.TableLog.replace(s, name, rows(s), checkpoint = false)
    s
  }

  /** A PQL program on `s`'s table `name`, through the one runner: the last
    * call's result, or the record count after a trailing write. */
  def program(s: SparkSession, name: String, pql: String): DataFrame =
    graft.pql.Pql.programResults(s, name, pql)(graft.pql.Pql.lastResult(s, name))
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = graft.core.EngineConf(SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true"))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    // TableLog's non-durable pieces cut lineage via Dataset.localCheckpoint;
    // when the optimizer collapses VALUES-cast aliases the checkpoint path
    // logs a benign "output columns are expected to the same" warning per
    // INSERT (exprId renames only — the LogicalRDD rewrites the references).
    // ~80 of them across a full run drown real warnings, so scope this one
    // logger to ERROR for the suites.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.LogicalRDD",
      org.apache.logging.log4j.Level.ERROR)
    s
  }
}
