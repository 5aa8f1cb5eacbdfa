package graft.engine

import org.apache.spark.sql.DataFrame

/** Eager-pinning helpers.
  *
  * `df.localCheckpoint()` (eager) runs one Spark job and BLOCKS the
  * driver thread — a chain of INDEPENDENT pins therefore serializes
  * on the driver even though the scheduler could overlap them
  * (actions are only sequential because driver code calls them
  * sequentially; with FIFO scheduling a later job's tasks back-fill
  * executor slots freed by the earlier job's straggler tail). For
  * multi-arm queries that pin two or three independent corpus passes
  * (the retrieval arm scoreboard's dense/lexical shortlists), running
  * the pins concurrently removes most of the serialized stage-floor.
  */
object Pin {

  /** Plan-audit capture (round 22, VERDICT r21 #3): an eager
    * `localCheckpoint()` truncates lineage at a LogicalRDD, so any
    * window UPSTREAM of a pin is invisible to every downstream
    * `queryExecution` probe — the round-21 posture suite could not
    * have caught a whole-source window reintroduced above a
    * `Dist.prefixSum` pin, and the committed
    * interleave_schedule_before plan dump was lineage-truncated into
    * byte-equality with the after dump. When a test installs a
    * buffer here, every pin routed through [[point]] ALSO records the
    * pinned frame's own optimized plan (plus the pinning site) before
    * checkpointing — execution is unchanged; the pre-pin subtree
    * becomes assertable. Production runs leave this None: the probe
    * costs nothing.
    */
  @volatile var auditBuffer: Option[scala.collection.mutable.Buffer[
    (String, org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)]] =
    None

  /** Eager pin with plan-audit capture — use at every pin site whose
    * UPSTREAM plan shape a posture test must be able to see (the
    * Dist prefix-rank machinery and the query-path pins above
    * windows).
    */
  def point(df: DataFrame, site: String): DataFrame = {
    auditBuffer.foreach(b => b.synchronized {
      b += ((site, df.queryExecution.optimizedPlan))
    })
    df.localCheckpoint()
  }

  /** Materialize independent frames CONCURRENTLY, one eager
    * `localCheckpoint()` each, and return the pinned frames in input
    * order. Each pin still completes before this method returns, so
    * every consumer plan built afterwards reads checkpointed blocks —
    * the eager-pin discipline (see Dedup.winnowPairs' measured
    * lazy-persist race) is preserved; only the driver-side
    * serialization between INDEPENDENT pins is removed. Spark job
    * groups are thread-inherited (localProperties is an
    * InheritableThreadLocal), so a bench clamp or cancellation on the
    * calling thread's group still reaches every child job. Any
    * failure is rethrown on the calling thread.
    */
  def parallel(dfs: DataFrame*): Seq[DataFrame] = {
    if (dfs.size <= 1) dfs.map(_.localCheckpoint())
    else {
      val out = new Array[DataFrame](dfs.size)
      val err =
        new java.util.concurrent.atomic.AtomicReference[Throwable]
      val threads = dfs.zipWithIndex.map { case (df, i) =>
        val t = new Thread({ () =>
          try out(i) = df.localCheckpoint()
          catch { case e: Throwable => err.compareAndSet(null, e) }
        }: Runnable, s"pin-parallel-$i")
        t.setDaemon(true)
        t.start()
        t
      }
      threads.foreach(_.join())
      if (err.get != null) throw err.get
      out.toSeq
    }
  }
}
