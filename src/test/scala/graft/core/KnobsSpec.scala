package graft.core

import org.scalatest.funsuite.AnyFunSuite

class KnobsSpec extends AnyFunSuite {

  test("an unset knob takes its default; a set one is parsed") {
    assert(Knobs.int("SPARK_GRAFT_RUNS", 3, min = 1, env = Map.empty) == 3)
    assert(Knobs.int("SPARK_GRAFT_RUNS", 3, min = 1, env = Map("SPARK_GRAFT_RUNS" -> " 5 ")) == 5)
    assert(Knobs.int("SPARK_GRAFT_RUNS", 3, min = 1, env = Map("SPARK_GRAFT_RUNS" -> "1")) == 1)
  }

  test("a bad value fails with an error naming the variable and the value") {
    for (bad <- Seq("two", "0", "-1", "2e6", "5000000000", "")) {
      val e = intercept[IllegalArgumentException] {
        Knobs.int("SPARK_GRAFT_RUNS", 3, min = 1, env = Map("SPARK_GRAFT_RUNS" -> bad))
      }
      assert(e.getMessage.contains("SPARK_GRAFT_RUNS") && e.getMessage.contains(s"'$bad'") &&
        e.getMessage.contains(">= 1"), e.getMessage)
    }
  }

  test("a string knob takes one of its values, or any non-blank value") {
    val allowed = Seq("rocksdb", "default")
    assert(Knobs.oneOf("SPARK_GRAFT_STATE_STORE", "default", allowed, env = Map.empty) == "default")
    assert(Knobs.oneOf("SPARK_GRAFT_STATE_STORE", "default", allowed,
      env = Map("SPARK_GRAFT_STATE_STORE" -> " rocksdb")) == "rocksdb")
    assert(Knobs.string("SPARK_GRAFT_SF_DIR", env = Map.empty).isEmpty)
    assert(Knobs.string("SPARK_GRAFT_SF_DIR",
      env = Map("SPARK_GRAFT_SF_DIR" -> "/data/sf0.1 ")).contains("/data/sf0.1"))
    for (bad <- Seq("RocksDB", "", "rocksdb,default")) {
      val e = intercept[IllegalArgumentException] {
        Knobs.oneOf("SPARK_GRAFT_STATE_STORE", "default", allowed,
          env = Map("SPARK_GRAFT_STATE_STORE" -> bad))
      }
      assert(e.getMessage.contains("SPARK_GRAFT_STATE_STORE") && e.getMessage.contains(s"'$bad'") &&
        e.getMessage.contains("'rocksdb' or 'default'"), e.getMessage)
    }
    val blank = intercept[IllegalArgumentException] {
      Knobs.string("SPARK_GRAFT_SF_DIR", env = Map("SPARK_GRAFT_SF_DIR" -> "  "))
    }
    assert(blank.getMessage.contains("SPARK_GRAFT_SF_DIR"), blank.getMessage)
  }

  test("the path and query-list knobs take any non-blank value; a blank one names the variable") {
    val dir = TempDirs.create("graft_knobs_base_")
    assert(TempDirs.baseDir(Map("GRAFT_TMP_BASE" -> dir.toString)).contains(dir))
    assert(TempDirs.baseDir(Map("GRAFT_TMP_BASE" -> s"$dir/missing")).isEmpty)
    assert(Knobs.string("SPARK_GRAFT_ONLY", env = Map("SPARK_GRAFT_ONLY" -> "q1_agg,q_taxi_q1"))
      .contains("q1_agg,q_taxi_q1"))
    val reads: Seq[(String, Map[String, String] => Any)] = Seq(
      "GRAFT_TMP_BASE" -> (TempDirs.baseDir(_)),
      "SPARK_GRAFT_SF_DIR" -> (Knobs.string("SPARK_GRAFT_SF_DIR", _)),
      "SPARK_GRAFT_ONLY" -> (Knobs.string("SPARK_GRAFT_ONLY", _)),
      "SPARK_GRAFT_BENCH_OUT" -> (Knobs.string("SPARK_GRAFT_BENCH_OUT", _)))
    for ((name, read) <- reads; blank <- Seq("", " ")) {
      val e = intercept[IllegalArgumentException](read(Map(name -> blank)))
      assert(e.getMessage.contains(name) && e.getMessage.contains(s"'$blank'"), e.getMessage)
    }
  }
}
