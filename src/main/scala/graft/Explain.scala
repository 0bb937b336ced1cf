package graft

import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.util.QueryExecutionListener

/** Plan-audit diagnostic: print the formatted physical plan of one or
  * more `SparkEntry.queries` entries. The things to look for at 100 TB:
  * `PushedFilters`/`ReadSchema` on every parquet scan (filters and
  * pruning reached the source), wide `WholeStageCodegen` spans (no
  * interpreted expressions in the hot path), broadcast vs shuffle on
  * the expected join side, and no surprise extra `Exchange` nodes.
  *
  * A row that materializes intermediates while it is built (the
  * fixpoint rounds of PageRank, LPA, CC and k-core, trained models)
  * returns a frame over the last one, so the plan of every SQL
  * execution that ran while the row was built is printed first.
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
    val ran = new ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        ran.add(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
        ran.add(qe)
    }
    names.foreach { n =>
      println(s"\n======== $n ========")
      SparkEntry.queries.get(n) match {
        case Some(fn) =>
          ran.clear()
          spark.listenerManager.register(listener)
          try {
            val df = fn(spark, sfDir)
            // listener events arrive in order on the bus: once this
            // marker's execution is seen, every earlier one has been
            val marker = spark.range(1)
            marker.collect()
            val deadline = System.currentTimeMillis() + 10000
            while (!ran.contains(marker.queryExecution) &&
                System.currentTimeMillis() < deadline) Thread.sleep(20)
            val built = ran.toArray(Array.empty[QueryExecution]).toSeq
              .takeWhile(_ ne marker.queryExecution)
            built.zipWithIndex.foreach { case (qe, i) =>
              println(s"-------- execution ${i + 1} of ${built.size} while building $n --------")
              println(qe.explainString(FormattedMode))
            }
            if (built.nonEmpty) println(s"-------- returned frame of $n --------")
            df.explain("formatted")
          } catch { case e: Throwable => println(s"EXPLAIN FAILED: $e") }
          finally spark.listenerManager.unregister(listener)
        case None => println(s"no such query; valid: ${
          SparkEntry.queries.keys.toSeq.sorted.mkString(", ")}")
      }
    }
    spark.stop()
  }
}
