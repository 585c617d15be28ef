package graft.frontier

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** The RDDs behind frames' checkpoints: `Dataset.unpersist` does not free
  * a `localCheckpoint`'s blocks, unpersisting its `LogicalRDD`'s RDD does.
  * `release` frees frames that nothing reads any more, except the
  * checkpoints that a `kept` frame still reads (a frame that was never
  * materialized reads its inputs'). */
private[frontier] object Checkpoints {
  def rdds(frames: Seq[DataFrame]): Seq[RDD[_]] =
    frames.flatMap(_.queryExecution.logical.collect { case r: LogicalRDD => r.rdd })
  def release(frames: Seq[DataFrame], kept: Seq[DataFrame] = Nil): Unit =
    (rdds(frames).toSet -- rdds(kept)).foreach(_.unpersist(blocking = false))
}
