package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.core.SessionConf

/** Reference-counted session settings: however scopes nest, overlap
  * across threads or throw, the session ends with its original values.
  */
class SessionConfSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkTestSession.spark

  private val Aqe = "spark.sql.adaptive.enabled"
  // never set by anything else: restoring it means unsetting it
  private val Unset = "graft.test.sessionConf"

  private def values = (spark.conf.get(Aqe), spark.conf.getOption(Unset))

  test("nested scopes: the inner value holds inside, the original after") {
    val before = values
    SessionConf.scoped(spark, Aqe -> "false", Unset -> "outer") {
      assert(values == ("false", Some("outer")))
      SessionConf.scoped(spark, Aqe -> "true", Unset -> "inner") {
        assert(values == ("true", Some("inner")))
      }
      // the outer scope is still open: the session is not restored yet
      assert(spark.conf.getOption(Unset).isDefined)
    }
    assert(values == before)
  }

  test("a body that throws still restores the settings") {
    val before = values
    intercept[IllegalStateException] {
      SessionConf.scoped(spark, Aqe -> "false", Unset -> "x") {
        SessionConf.scoped(spark, Aqe -> "true") {
          throw new IllegalStateException("boom")
        }
      }
    }
    assert(values == before)
  }

  test("two threads' overlapping scopes, either exit order, restore the original") {
    val before = values
    // A enters, B enters with the other value, then the first entrant
    // exits first (the order that left a toggled setting behind when
    // each caller restored what it saw on entry) or last
    for (firstExitsFirst <- Seq(true, false)) {
      val aIn, bIn, aOut, bOut = new CountDownLatch(1)
      def scope(v: String, in: CountDownLatch, release: CountDownLatch): Thread = {
        val t = new Thread(() => SessionConf.scoped(spark, Aqe -> v, Unset -> v) {
          in.countDown()
          release.await(30, TimeUnit.SECONDS)
        })
        t.start()
        t
      }
      val a = scope("false", aIn, aOut)
      assert(aIn.await(30, TimeUnit.SECONDS))
      val b = scope("true", bIn, bOut)
      assert(bIn.await(30, TimeUnit.SECONDS))
      if (firstExitsFirst) { aOut.countDown(); a.join(); bOut.countDown(); b.join() }
      else { bOut.countDown(); b.join(); aOut.countDown(); a.join() }
      assert(values == before, s"firstExitsFirst=$firstExitsFirst")
    }
  }
}
