import org.apache.spark.sql.DataFrame

/** Package-level plumbing shared by every operator pack. */
package object graft {

  /** Conf-gated lineage cut (OPTIMIZATION r18, VERDICT r17 item 8).
    *
    * `localCheckpoint` materializes to executor-local storage: fast, but
    * the blocks die with their host — on a real cluster an executor loss
    * makes the truncated lineage unrecoverable and kills the job. That is
    * an acceptable trade in local mode (this sandbox: one JVM, losing the
    * "executor" IS losing the job) and for restartable batch jobs, but at
    * 100 TB a multi-hour run should be able to opt into reliable
    * checkpoints.
    *
    * `spark.graft.reliableCheckpoint=true` (plus a configured
    * `SparkContext.setCheckpointDir`, e.g. an HDFS/S3 path) routes every
    * operator lineage cut through `Dataset.checkpoint()` instead —
    * replicated, executor-loss-safe, at the cost of a distributed write
    * per cut. Default (unset/false) keeps the exact local behavior every
    * bench number was measured under. The flag without a checkpoint
    * directory fails fast with an `IllegalStateException` at the first cut.
    */
  implicit final class GraftCkpt(private val df: DataFrame) extends AnyVal {
    def graftCkpt(): DataFrame =
      if (reliableCkpt(df)) df.checkpoint() else df.localCheckpoint()

    /** The `storage` level applies to the local path only; a reliable
      * checkpoint writes to the checkpoint directory and ignores it. */
    def graftCkpt(storage: org.apache.spark.storage.StorageLevel): DataFrame =
      if (reliableCkpt(df)) df.checkpoint()
      else df.localCheckpoint(true, storage)

    private def reliableCkpt(d: DataFrame): Boolean = {
      val on = d.sparkSession.conf
        .getOption("spark.graft.reliableCheckpoint").exists(_.toBoolean)
      if (on && d.sparkSession.sparkContext.getCheckpointDir.isEmpty)
        throw new IllegalStateException(
          "spark.graft.reliableCheckpoint=true needs a checkpoint directory: " +
            "set spark.checkpoint.dir (or call SparkContext.setCheckpointDir), " +
            "or unset spark.graft.reliableCheckpoint")
      on
    }
  }
}
