package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Pin._

class PinSpec extends AnyFunSuite {
  import TestSpark.spark

  test("spark.graft.ckpt=reliable: pin writes to the checkpoint dir and " +
      "keeps the rows") {
    val dir = Files.createTempDirectory("graft-ckpt")
    def files = Files.walk(dir).iterator.asScala.toList
    val df = spark.range(0, 100, 1, 4).toDF("id")
    spark.sparkContext.setCheckpointDir(dir.toString)
    spark.conf.set("spark.graft.ckpt", "reliable")
    try {
      val pinned = df.pin(eager = true)
      assert(files.exists(Files.isRegularFile(_)), s"nothing under $dir")
      assert(pinned.collect().map(_.getLong(0)).sorted.toSeq ===
        df.collect().map(_.getLong(0)).sorted.toSeq)
    } finally {
      spark.conf.unset("spark.graft.ckpt")
      files.reverse.foreach(Files.delete(_)) // children before parents
    }
  }
}
