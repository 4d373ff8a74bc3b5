package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.core.{Tables, TripleStore}

/** A table is read once per session: a repeated load reuses the frame
  * (each read infers the parquet schema in a Spark job), and a rewritten
  * table is read again.
  */
class TablesSpec extends AnyFunSuite {

  lazy val spark = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"

  private def jobs(body: => Any): Int = Explain.measure(spark)(body)._2.jobs

  test("a second Tables.load starts no job and returns the same frame") {
    val first = Tables.load(spark, sf, "nation")
    var second: AnyRef = null
    assert(jobs { second = Tables.load(spark, sf, "nation") } == 0)
    assert(second eq first)
  }

  test("a rewritten table is read again, with its new schema") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_tables").toString
    Seq(1, 2).toDF("a").write.parquet(s"$dir/t.parquet")
    assert(Tables.load(spark, dir, "t").columns.toSeq == Seq("a"))
    assert(Tables.load(spark, dir, "t").count() == 2)
    Seq((3, "x")).toDF("a", "b").write.mode("overwrite").parquet(s"$dir/t.parquet")
    val again = Tables.load(spark, dir, "t")
    assert(again.columns.toSeq == Seq("a", "b"))
    assert(again.collect().map(r => (r.getInt(0), r.getString(1))).toSeq == Seq((3, "x")))
  }

  test("an attrWide call on a warm store starts no load job") {
    val ts = TripleStore(spark, sf)
    // one Customer group; one Customer + Supplier union
    val reads = Seq(Seq("name", "acctbal", "mktsegment") -> Set("Customer"),
      Seq("name", "acctbal") -> Set("Customer", "Supplier"))
    reads.foreach { case (preds, types) => assert(ts.attrWide(preds, types).size == 1) }
    reads.foreach { case (preds, types) => assert(jobs(ts.attrWide(preds, types)) == 0) }
  }
}
