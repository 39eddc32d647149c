package perfbench

/** Sparse keyed batches merged into a `SnapshotLog` table, each followed by
  * a reader round, and change-feed streams that catch up over the whole
  * history at the end ([[SnapshotServing]]). Not in the gated set: the same
  * ops run as members of `ops_mix`; this workload isolates them. */
object SnapshotServeWorkload extends Workload {
  val name = "snapshot_serve"
  val primaryOp = "merge"
  /** orders rows in the table (1,500,000 · sf). */
  val Rows = 50000L
  val CatchUps = 3

  private var s: SnapshotServing = _

  def generate(h: Harness, seed: Long, into: String): Unit = {
    if (s != null) s.base.unpersist()
    s = new SnapshotServing(h.spark, seed, Rows, into)
  }

  def warmUp(h: Harness, seed: Long): Unit = (1 to 2).foreach { _ =>
    s.merge(h, "warmup")
    s.readRound(h, "warmup")
  }

  def measure(h: Harness, seed: Long): Unit = {
    while (h.windowOpen || h.timesOf(primaryOp).size < 3) {
      s.merge(h, primaryOp)
      s.readRound(h, "read_round")
    }
    s.finalCheck(h)
    (1 to CatchUps).foreach(_ => s.catchUp(h, "catchup"))
  }

  def endToEnd(h: Harness): Map[String, Double] = Map(
    "op_p50_s" -> Stats.median(h.timesOf(primaryOp)),
    "rows_per_s" -> s.catchUpRate)

  def detail(h: Harness): Map[String, Any] = s.detail ++ Map(
    "snap.merge_p50_s" -> Stats.median(h.timesOf(primaryOp)),
    "snap.read_p50_s" -> Stats.median(h.timesOf("read_round")))

  def layers(h: Harness): Map[String, (Double, Int)] =
    s.layers(h.tracesOf(primaryOp).map(_._2))
}
