package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamSessions

/** Pins the streaming state-partition rule (optimization r19): the
  * count derives from input bytes — never from the host's core count
  * — with the documented clamp and the conf override.
  */
class StreamSessionsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("statePartitions is data-proportional with the [4,512] clamp") {
    val dir = java.nio.file.Files.createTempDirectory("ssparts")
    def fileOf(bytes: Int): String = {
      val p = dir.resolve(s"f$bytes.bin")
      java.nio.file.Files.write(p, new Array[Byte](bytes))
      p.toString
    }
    // tiny input → floor
    assert(StreamSessions.statePartitions(spark,
      Seq(fileOf(1000))) == StreamSessions.MinParts)
    // 16 MB → ceil(16MiB / 512KiB) = 32 partitions, regardless of the
    // session's core count
    val f16 = fileOf(16 * 1024 * 1024)
    assert(StreamSessions.statePartitions(spark, Seq(f16)) == 32)
    // a scheme-qualified URI sizes through its Hadoop filesystem
    assert(StreamSessions.statePartitions(spark, Seq("file://" + f16)) == 32)
    // a directory counts every file under it
    assert(StreamSessions.statePartitions(spark, Seq(dir.toString)) == 33)
    // missing path → floor, no throw
    assert(StreamSessions.statePartitions(spark,
      Seq(dir.resolve("absent").toString)) == StreamSessions.MinParts)
  }

  test("conf override wins and the child session carries the count") {
    val s2 = spark.newSession()
    s2.conf.set(StreamSessions.ConfKey, "7")
    val before = s2.conf.get("spark.sql.shuffle.partitions")
    val child = StreamSessions.streamSession(s2, Seq("/nonexistent"))
    assert(child.conf.get("spark.sql.shuffle.partitions") == "7")
    // the parent session's own shuffle conf is untouched
    assert(s2.conf.get("spark.sql.shuffle.partitions") == before)
  }
}
