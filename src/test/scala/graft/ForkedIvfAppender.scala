package graft

/** Forked-JVM appender for [[ForkSpec]]: a genuinely separate PROCESS
  * firing batches into a shared IVF index root. The in-JVM fence
  * tests (TriggerSpec) use two trigger instances, which is faithful
  * to the on-disk protocol but cannot catch JVM-global state
  * accidentally doing the fencing — the seal heartbeat scheduler,
  * per-index monitors, in-process locks. Across a real fork, the only
  * thing the two sides share is the filesystem.
  *
  * args: indexPath, comma-separated batch offsets, ready-file path,
  * and optionally ticketExpiryMs, stallMs, stall-marker path. Touches
  * the ready file after the FIRST append so the parent can start
  * racing publishes against a live appender, then fires the rest
  * ([[IvfFixtures.batch]] rows, reconstructible by the parent) with
  * short gaps and exits 0.
  *
  * With the optional trio set, the LAST offset's append stalls
  * `stallMs` between its ticket becoming visible and the parquet
  * write (the real testHookDuringAppend window), touching the stall
  * marker first — so the parent can drive a publisher drain through a
  * stalled-but-RENEWING write across a real process boundary: the
  * renewal scheduler, the mtime clock and the ack fence all live in
  * THIS JVM, the publisher in the parent's; only the filesystem spans
  * them.
  */
object ForkedIvfAppender {
  def main(args: Array[String]): Unit = {
    val idxPath = args(0)
    val offsets = args(1).split(",").map(_.trim.toInt).toSeq
    val readyFile = args(2)
    val expiryMs = if (args.length > 3) args(3).toLong else 0L
    val stallMs = if (args.length > 4) args(4).toLong else 0L
    val stallMarker = if (args.length > 5) args(5) else ""
    val spark = SparkSpec.create(2, "ERROR")
    try {
      val trig = new graft.streaming.IvfIndexTrigger(
        spark, IvfFixtures.cents, idxPath, ticketExpiryMs = expiryMs)
      offsets.zipWithIndex.foreach { case (off, i) =>
        if (stallMs > 0 && i == offsets.length - 1)
          graft.streaming.IvfIndexTrigger.testHookDuringAppend = Some { p =>
            if (p == idxPath) {
              graft.streaming.IvfIndexTrigger.testHookDuringAppend = None
              java.nio.file.Files.writeString(
                java.nio.file.Paths.get(stallMarker), "stalling")
              Thread.sleep(stallMs)
            }
          }
        trig.fire("V/1Sec/EMB", IvfFixtures.batch(spark, off))
        if (i == 0)
          java.nio.file.Files.writeString(
            java.nio.file.Paths.get(readyFile), "ready")
        Thread.sleep(250)
      }
      // the parent greps this to assert the stalled append was ACKED
      // through the fence (renewal held — no recovery, no refusal)
      println(s"FORKED_APPENDER_DONE recoveries=" +
        graft.streaming.IvfIndexTrigger.ackFenceRecoveries.get())
    } finally spark.stop()
    sys.exit(0)
  }
}
