package graft.ops

/** The per-step eager checkpoint of the FIXED-SHAPE unrolled loops (beam
  * hops, heuristic-2 prune steps, CC rounds). The Lloyd trainers hold
  * their k-row state on the driver and need none.
  *
  * [[ckpt]] exists because a checkpoint taken under non-adaptive
  * execution captures REAL physical partitioning/ordering, and a step
  * whose tail sorts by columns the final projection drops (SMJ keys,
  * window order columns) captures a SortOrder over pre-projection
  * attributes — poisoning every persisted descendant's cache entry (see
  * [[org.apache.spark.sql.graft.ColumnBridge.stripDanglingLayout]]). The
  * strip makes every loop checkpoint safe whatever planner produced it.
  *
  * The conf-gated AQE-off loop scope this object once carried was
  * measured slower at every width and was removed.
  */
object LoopScope {

  /** `localCheckpoint(true)` + layout sanitation. All loops checkpoint
    * through this helper. */
  def ckpt(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.graft.ColumnBridge.stripDanglingLayout(df.localCheckpoint(true))

  /** `.loopCkpt` suffix form of [[ckpt]] for the loop bodies. */
  implicit class CkptOps(private val df: org.apache.spark.sql.DataFrame) extends AnyVal {
    def loopCkpt: org.apache.spark.sql.DataFrame = ckpt(df)
  }
}
