package graft

import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

/** `spark.graft.reliableCheckpoint` is a conf flag that needs a second
  * setting, the checkpoint directory; set alone it must fail at the first
  * lineage cut with a message that names both. */
class CheckpointConfSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("reliableCheckpoint without a checkpoint dir fails fast, naming both settings") {
    assert(spark.sparkContext.getCheckpointDir.isEmpty,
      "premise: the test session has no checkpoint directory")
    spark.conf.set("spark.graft.reliableCheckpoint", "true")
    try {
      val e = intercept[IllegalStateException](spark.range(3).toDF().graftCkpt())
      assert(e.getMessage.contains("spark.graft.reliableCheckpoint"), e.getMessage)
      assert(e.getMessage.contains("spark.checkpoint.dir"), e.getMessage)
      intercept[IllegalStateException](
        spark.range(3).toDF().graftCkpt(StorageLevel.MEMORY_AND_DISK))
    } finally spark.conf.unset("spark.graft.reliableCheckpoint")
    // unset, the local path runs as before
    assert(spark.range(3).toDF().graftCkpt().count() == 3L)
  }
}
