package graft.streaming

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase
import graft.diversity.Pt
import graft.streaming.StatefulCoreset.{KernelOut, VecEvent}

/** A stateful coreset query checkpointed under one checkpoint manager is
  * stopped after its first micro-batch and restarted from the same
  * checkpoint under the other: Spark's default manager and
  * [[LocalCheckpointFileManager]] read each other's offset, commit and
  * state files and their `.crc` files.
  */
class CheckpointRestartSpec extends AnyFunSuite with SparkTestBase {

  private val M = 16
  private val RocksDb = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  private lazy val events: Seq[VecEvent] = {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    graft.sources.Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), col("embedding"))
      .orderBy(col("vec_id")).limit(1024)
      .as[(Long, Array[Float])].collect()
      .map { case (id, v) => VecEvent((id % 4).toInt, id, v) }.toSeq
  }

  /** Run `body` with the session confs `pins` set and the manager conf
    * set to the local manager (`local`) or unset (Spark's default); restore
    * each conf afterwards.
    */
  private def under[A](local: Boolean, pins: Seq[(String, String)])(body: => A): A = {
    val key = LocalCheckpointFileManager.ClassKey
    val all = pins ++ Seq("spark.sql.shuffle.partitions" -> "4",
      "spark.sql.streaming.noDataMicroBatches.enabled" -> "false")
    val prev = (all.map(_._1) :+ key).map(k => k -> spark.conf.getOption(k))
    all.foreach { case (k, v) => spark.conf.set(k, v) }
    if (local) spark.conf.set(key, classOf[LocalCheckpointFileManager].getName) else spark.conf.unset(key)
    try body finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  private def restart(firstLocal: Boolean, rocksDb: Boolean): Unit = {
    import spark.implicits._
    val pins = if (rocksDb) Seq("spark.sql.streaming.stateStore.providerClass" -> RocksDb) else Nil
    val operator: Dataset[VecEvent] => Dataset[KernelOut] =
      if (rocksDb) StatefulCoreset.kernelsTws(_, m = M) else StatefulCoreset.kernels(_, m = M)
    val ckpt = Files.createTempDirectory("graft-restart").toFile
    val stream = MemoryStream[VecEvent](spark)
    val chunks = events.grouped((events.size + 2) / 3).toSeq
    val out = new ConcurrentLinkedQueue[(Long, KernelOut)]()
    def run(local: Boolean, feed: Seq[Seq[VecEvent]]): Unit = under(local, pins) {
      val q = operator(stream.toDS()).writeStream.outputMode("update")
        .option("checkpointLocation", ckpt.getPath)
        .foreachBatch { (ds: Dataset[KernelOut], id: Long) => ds.collect().foreach(k => out.add(id -> k)) }
        .start()
      try feed.foreach { c => stream.addData(c); q.processAllAvailable() } finally q.stop()
    }
    try {
      run(firstLocal, chunks.take(1))
      assert(new java.io.File(ckpt, "commits/.0.crc").exists())
      out.clear()
      run(!firstLocal, chunks.drop(1))
      val rows = out.asScala.toSeq
      assert(rows.map(_._1).toSet == Set(1L, 2L), "the restarted query resumes at batch 1")
      for (k <- 0 until 4) {
        val keyed = events.filter(_.key == k)
        val fin = rows.map(_._2).filter(r => r.key == k && r.consumed == keyed.size.toLong)
          .map(r => (r.vec_id, r.weight)).sortBy(_._1)
        val expect = StatefulCoreset.batchFold(keyed.map(e => Pt(e.vec_id, e.vec)), M)
          .map(w => (w.id, w.weight)).sortBy(_._1)
        assert(fin == expect, s"key $k")
      }
    } finally org.apache.commons.io.FileUtils.deleteDirectory(ckpt)
  }

  for (rocksDb <- Seq(false, true); firstLocal <- Seq(false, true)) {
    val store = if (rocksDb) "RocksDB (transformWithState)" else "HDFS-backed (flatMapGroupsWithState)"
    val order = if (firstLocal) "the local manager, restarted under Spark's default"
                else "Spark's default manager, restarted under the local one"
    test(s"$store: checkpointed by $order") {
      restart(firstLocal, rocksDb)
    }
  }
}
