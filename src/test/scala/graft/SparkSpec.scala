package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs — one per suite, lazy. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
}

object SparkSpec {
  /** The shipped session ([[GraftSession]]) on `cores` local cores, with
    * test deployment settings only: no UI, quiet logs. The forked test
    * JVMs build theirs here too. */
  def create(cores: Int, logLevel: String, extra: (String, String)*): SparkSession =
    GraftSession.create(GraftSession.builder(s"local[$cores]", cores)
      .config("spark.ui.enabled", "false")
      .config("spark.log.level", logLevel)
      .config(extra.toMap))

  lazy val session: SparkSession = create(4, "WARN")
}
