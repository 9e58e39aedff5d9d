package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** Checkpoint-and-release for the iterative operators: one eager
  * materialization per round cuts the lineage (a lazy round chain
  * grows its plan with every round, and a state read twice per round
  * doubles it), and one release per round keeps executor storage at
  * one state instead of one per round run.
  */
object Rounds {

  @volatile private var lastCheckpointDir: Option[String] = None

  /** Eagerly materialize a state and cut its lineage: reliable
    * `checkpoint()` under `checkpointDir` when one is given (blocks
    * survive executor loss), `localCheckpoint` otherwise.
    */
  def materialize(df: DataFrame, checkpointDir: Option[String] = None): DataFrame =
    checkpointDir match {
      case Some(dir) =>
        val sc = df.sparkSession.sparkContext
        // honor THIS caller's dir even when some earlier caller (or
        // unrelated code) already set a different one on the context
        if (!lastCheckpointDir.contains(dir)) {
          sc.setCheckpointDir(dir)
          lastCheckpointDir = Some(dir)
        }
        df.checkpoint()
      case None => df.localCheckpoint()
    }

  /** Free the storage behind [[materialize]]d frames (the checkpointed
    * RDD sits directly under a LogicalRDD leaf): unpersist its blocks
    * and delete its reliable checkpoint files, which Spark only removes
    * under spark.cleaner.referenceTracking.cleanCheckpoints (default
    * off). A no-op on any other frame. Call it only once nothing still
    * to be computed reads the frame.
    */
  def release(dfs: DataFrame*): Unit = dfs.foreach { df =>
    df.queryExecution.analyzed match {
      case l: LogicalRDD =>
        l.rdd.unpersist(blocking = false)
        l.rdd.getCheckpointFile.foreach { p =>
          try {
            val path = new org.apache.hadoop.fs.Path(p)
            path.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
              .delete(path, true)
          } catch { case _: Exception => () } // cleanup is best-effort
        }
      case _ => ()
    }
  }

  /** Run `rounds` rounds of `step` (given the state and the 1-based
    * round) from `init`, materializing every round's state with a
    * `localCheckpoint`. The previous state is released only after the
    * next one has landed: the next round's computation reads it.
    * `init` is released like any other state, so a caller passes a
    * materialized `init` only when nothing else reads it afterwards. A
    * step that returns the state it was given ends the iteration there
    * (a drained graph).
    */
  def iterate(init: DataFrame, rounds: Int)(step: (DataFrame, Int) => DataFrame): DataFrame = {
    var state = init
    var r = 1
    while (r <= rounds) {
      val next = step(state, r)
      if (next eq state) return state
      val landed = materialize(next)
      release(state)
      state = landed
      r += 1
    }
    state
  }
}
