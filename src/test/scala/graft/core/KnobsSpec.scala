package graft.core

import org.scalatest.funsuite.AnyFunSuite

class KnobsSpec extends AnyFunSuite {

  test("an unset knob takes its default; a set one is parsed") {
    assert(Knobs.int("GRAFT_STREAM_STATE_PARTITIONS", 2, min = 1, env = Map.empty) == 2)
    assert(Knobs.int("GRAFT_STREAM_STATE_PARTITIONS", 2, min = 1,
      env = Map("GRAFT_STREAM_STATE_PARTITIONS" -> " 4 ")) == 4)
    assert(Knobs.long("GRAFT_MAX_BROADCAST_CARRY_ROWS", 2000000L, min = 0L,
      env = Map("GRAFT_MAX_BROADCAST_CARRY_ROWS" -> "5000000000")) == 5000000000L)
    assert(Knobs.double("SPARK_GRAFT_MAX_EXT_CPUS", 2.0, min = 0.0,
      env = Map("SPARK_GRAFT_MAX_EXT_CPUS" -> "1.5")) == 1.5)
  }

  test("a bad value fails with an error naming the variable and the value") {
    val cases = Seq(
      (() => Knobs.int("GRAFT_STREAM_STATE_PARTITIONS", 2, min = 1,
        env = Map("GRAFT_STREAM_STATE_PARTITIONS" -> "two")), "GRAFT_STREAM_STATE_PARTITIONS", "two"),
      (() => Knobs.int("GRAFT_STREAM_STATE_PARTITIONS", 2, min = 1,
        env = Map("GRAFT_STREAM_STATE_PARTITIONS" -> "0")), "GRAFT_STREAM_STATE_PARTITIONS", "0"),
      (() => Knobs.long("GRAFT_MAX_BROADCAST_CARRY_ROWS", 2000000L, min = 0L,
        env = Map("GRAFT_MAX_BROADCAST_CARRY_ROWS" -> "2e6")), "GRAFT_MAX_BROADCAST_CARRY_ROWS", "2e6"),
      (() => Knobs.double("SPARK_GRAFT_MAX_EXT_CPUS", 2.0, min = 0.0,
        env = Map("SPARK_GRAFT_MAX_EXT_CPUS" -> "NaN")), "SPARK_GRAFT_MAX_EXT_CPUS", "NaN"))
    cases.foreach { case (read, name, value) =>
      val e = intercept[IllegalArgumentException](read())
      assert(e.getMessage.contains(name) && e.getMessage.contains(s"'$value'"), e.getMessage)
    }
  }
}
