package graft

/** Plan-audit diagnostic: print the formatted physical plan of one or
  * more `SparkEntry.queries` entries. The things to look for at 100 TB:
  * `PushedFilters`/`ReadSchema` on every parquet scan (filters and
  * pruning reached the source), wide `WholeStageCodegen` spans (no
  * interpreted expressions in the hot path), broadcast vs shuffle on
  * the expected join side, and no surprise extra `Exchange` nodes.
  *
  * {{{ sbt "runMain graft.Explain /root/testdata/sf0.001 q_join_region" }}}
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names =
      if (args.length > 1) args.tail.toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    // the bench's session, so captures show the parallelism-DERIVED
    // plan shapes (the IVF salt fan-out) at $SPARK_GRAFT_CPUS
    val spark = Sessions.build("graft-explain")
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"\n======== $n ========")
      SparkEntry.queries.get(n) match {
        case Some(fn) =>
          try fn(spark, sfDir).explain("formatted")
          catch { case e: Throwable => println(s"EXPLAIN FAILED: $e") }
        case None => println(s"no such query; valid: ${
          SparkEntry.queries.keys.toSeq.sorted.mkString(", ")}")
      }
    }
    spark.stop()
  }
}
