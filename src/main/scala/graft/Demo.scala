package graft

import graft.engine.{Catalog, GraftEngine, GraftSession}

/** Minimal end-to-end sample of the public API — the Spark-first analogue
  * of the reference's README quick-start (README.md:289-298): register a
  * data dir, run dialect SQL through the engine, exercise the guarded
  * ad-hoc endpoint semantics.
  *
  * Usage: runMain graft.Demo [dataDir]
  */
object Demo {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = GraftSession.local()
    val engine = new GraftEngine(spark)
    Catalog.registerDir(spark, dir)

    println("== schema(orders) ==")
    println(engine.schema("orders").toSeq.sorted.mkString(", "))

    println("== reference-dialect query through the translator ==")
    engine.query(
      """SELECT o_orderpriority, count(*) AS n,
        |       sum(o_totalprice)::BIGINT AS total_floor
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '2001-01-01 00:00:00' - INTERVAL '12 months'
        |GROUP BY 1 ORDER BY 1""".stripMargin).show(truncate = false)

    println("== guarded endpoint: row cap ==")
    engine.guardedQuery("SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_totalprice DESC", maxRows = 3) match {
      case Right(df) => df.show()
      case Left(err) => println(s"rejected: $err")
    }

    println("== guarded endpoint: firewall ==")
    engine.guardedQuery("DROP TABLE orders") match {
      case Right(_) => println("BUG: should have been rejected")
      case Left(err) => println(s"rejected as expected: $err")
    }
    spark.stop()
  }
}
