package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (getOrCreate — one JVM-wide), with
  * the bench session's settings ([[Bench.sessionConfs]]) but for
  * `GraftExtensions`: its optimizer rule rewrites `size(array_intersect)`,
  * the built-in reference the kernel tests compare against, so the tests
  * of the extension install it on a session of their own. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config(Bench.sessionConfs("4").filterNot(_._1 == "spark.sql.extensions").toMap)
    .getOrCreate()

  def sf001 = "/root/testdata/sf0.001"

  /** Runs `f` with the given SQL confs set, then restores each one's prior
    * value (or unsets it). */
  def withConfs[T](confs: (String, String)*)(f: => T): T = {
    val prior = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Runs `f` with whole-stage codegen off and expressions interpreted:
    * the interpreted half of a codegen-vs-interpreted parity check. */
  def withCodegenDisabled[T](f: => T): T =
    withConfs("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")(f)
}
