package org.apache.spark

/** The two driver internals the benchmark reads that Spark keeps
  * package-private: draining the listener bus (so every event of a
  * finished op has reached the listeners before they are read) and the
  * per-stage totals of the status store that every SparkContext keeps,
  * listener or not.
  */
object BenchAccess {

  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** (stage id, shuffle bytes written, bytes spilled to disk) of every
    * completed stage the status store still retains.
    */
  def stageWrites(sc: SparkContext): Seq[(Int, Long, Long)] = {
    import org.apache.spark.status.api.v1.StageStatus
    sc.statusStore.stageList(java.util.Arrays.asList(StageStatus.COMPLETE))
      .map(s => (s.stageId, s.shuffleWriteBytes, s.diskBytesSpilled))
  }
}
