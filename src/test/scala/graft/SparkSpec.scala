package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one per JVM via getOrCreate):
  * the gate harness session ([[GraftSession.harness]]), so streaming
  * state runs under RocksDB — the same backend a deployment uses — and
  * the stateful-operator suites exercise the real store. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.harness("graft-test")
    .config("spark.sql.warehouse.dir", "/tmp/graft-warehouse")
    .getOrCreate()

  /** Snapshot `keys` and restore them after `body` — including the
    * never-set case (restore = unset, not set-to-stale-default) — for
    * tests whose body itself mutates session confs. The session is
    * shared across suites, so every conf change in a test must go
    * through this or [[withConf]]. */
  protected def savingConf[A](keys: String*)(body: => A): A = {
    val prev = keys.map(k => k -> spark.conf.getOption(k))
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Set session confs for the duration of `body`, restoring previous
    * values afterwards. */
  protected def withConf[A](pairs: (String, String)*)(body: => A): A =
    savingConf(pairs.map(_._1): _*) {
      pairs.foreach { case (k, v) => spark.conf.set(k, v) }
      body
    }
}
