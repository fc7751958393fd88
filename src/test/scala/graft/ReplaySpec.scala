package graft

import java.nio.file.{Files, Paths}

import graft.streaming.Replay

/** The replay runner's state-partition sizing: the rule itself, and the
  * bytes it reads off a stream's file sources.
  */
class ReplaySpec extends GraftSuite {

  private val MB = 1L << 20

  test("state partitions: input bytes over the advisory size, rounded up, within [1, shuffle partitions]") {
    assert(Replay.statePartitions(2 * MB, 64 * MB, 32) == 1)
    assert(Replay.statePartitions(200 * MB, 64 * MB, 32) == 4)
    assert(Replay.statePartitions(200 * MB, 64 * MB, 3) == 3)
    assert(Replay.statePartitions(0L, 64 * MB, 32) == 1)
  }

  test("state partitions follow the bytes of the replayed file behind a linked directory") {
    val file = Paths.get(sys.props("user.home"), "testdata", "sf0.01", "events.parquet").toString
    val size = Files.size(Paths.get(file))
    val outer = spark.newSession()
    outer.conf.set("spark.sql.shuffle.partitions", 8L)
    outer.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", (size + 2) / 3)
    val sink = Replay.run(outer) { s =>
      s.readStream.schema(s.read.parquet(file).schema).parquet(Replay.linkDir(file))
    }
    assert(sink.sparkSession.conf.get("spark.sql.shuffle.partitions") == "3")
    assert(sink.count() == spark.read.parquet(file).count())
  }
}
