package graft.plans

import org.scalatest.funsuite.AnyFunSuite

import graft.core.Event

/** The per-operator checkpoint-state decoders must turn a wrong-shape
  * payload (a checkpoint written by a build whose state shape changed
  * without a StateVersion bump) into a directed error naming the operator
  * and the fix — not a bare ClassCastException deep inside the operator.
  * A wrong-shape payload cannot be injected through a real checkpoint, so
  * the decoders are exercised directly (they are package-visible for this).
  */
class CheckpointStateSpec extends AnyFunSuite {

  private val goodEvents: List[Event[Any]] =
    List(Event(None, Some("x": Any)))

  test("null state decodes to each operator's empty state") {
    assert(StreamingLowering.decodeChopState(null) == ((0, Nil)))
    assert(StreamingLowering.decodeChopTimeState(null) == ((Long.MinValue, Nil)))
    assert(StreamingLowering.decodeSlidingState(null) ==
      ((0, scala.collection.immutable.Queue.empty[Event[Any]])))
    assert(StreamingLowering.decodeSlidingTimeState(null) ==
      scala.collection.immutable.Queue.empty[Event[Any]])
    assert(StreamingLowering.decodeZipJoinState(null) == ((Nil, Nil)))
    assert(StreamingLowering.decodeGenericWindowState(null) == ((0, 0, None, Nil)))
  }

  test("well-shaped state round-trips through each decoder") {
    assert(StreamingLowering.decodeChopState((3, goodEvents)) == ((3, goodEvents)))
    assert(StreamingLowering.decodeChopTimeState((7L, goodEvents)) == ((7L, goodEvents)))
    val q = scala.collection.immutable.Queue(goodEvents.head)
    assert(StreamingLowering.decodeSlidingState((1, q)) == ((1, q)))
    assert(StreamingLowering.decodeSlidingTimeState(q) == q)
    val zj = (List((None: Option[java.sql.Timestamp]) -> ("l": Any)), List("r": Any))
    assert(StreamingLowering.decodeZipJoinState(zj) == zj)
    assert(StreamingLowering.decodeGenericWindowState(
      (2, 77, Some(goodEvents.head), goodEvents)) ==
      ((2, 77, Some(goodEvents.head), goodEvents)))
  }

  test("wrong-shape state yields a directed incompatible-checkpoint error") {
    // an old build that kept chop state as a bare count (no buffer)
    val e1 = intercept[IllegalStateException] {
      StreamingLowering.decodeChopState(42: Any)
    }
    assert(e1.getMessage.contains("incompatible streaming checkpoint state"))
    assert(e1.getMessage.contains("'chop'"))
    assert(e1.getMessage.contains("fresh checkpointLocation"))
    assert(e1.getCause.isInstanceOf[ClassCastException])

    val e2 = intercept[IllegalStateException] {
      StreamingLowering.decodeChopTimeState(("origin", goodEvents): Any)
    }
    assert(e2.getMessage.contains("'chopTime'"))

    val e3 = intercept[IllegalStateException] {
      StreamingLowering.decodeSlidingState((1, goodEvents): Any) // List, not Queue
    }
    assert(e3.getMessage.contains("'sliding'"))

    val e4 = intercept[IllegalStateException] {
      StreamingLowering.decodeSlidingTimeState(goodEvents: Any)
    }
    assert(e4.getMessage.contains("'slidingTime'"))

    val e5 = intercept[IllegalStateException] {
      StreamingLowering.decodeZipJoinState((Map.empty[String, Int], Nil): Any)
    }
    assert(e5.getMessage.contains("'zip-join'"))

    // the v3 shape (no last-emitted window) against the v4 decoder
    val e6 = intercept[IllegalStateException] {
      StreamingLowering.decodeGenericWindowState((2, 77, goodEvents): Any)
    }
    assert(e6.getMessage.contains("'generic-window'"))
  }

  test("stateful-run state decodes to one slot per member; wrong arity or shape is directed") {
    assert(StreamingLowering.decodeRunState(null, 2).toList == List(null, null))
    val slots = List((3, goodEvents), Some(1.0))
    assert(StreamingLowering.decodeRunState(slots, 2).toList == slots)

    val arity = intercept[IllegalStateException] {
      StreamingLowering.decodeRunState(slots, 3)
    }
    assert(arity.getMessage.contains("'stateful-run'"))
    assert(arity.getMessage.contains("a List of 3 member states"))
    assert(arity.getMessage.contains("of length 2"))
    assert(arity.getMessage.contains("fresh checkpointLocation"))

    // a one-operator payload from before runs shared a group
    val shape = intercept[IllegalStateException] {
      StreamingLowering.decodeRunState((3, goodEvents): Any, 1)
    }
    assert(shape.getMessage.contains("'stateful-run'"))
    assert(shape.getMessage.contains(StreamingLowering.StateVersion))
  }

  test("the error names the current state encoding version") {
    val e = intercept[IllegalStateException] {
      StreamingLowering.decodeChopState("not a tuple": Any)
    }
    assert(e.getMessage.contains(StreamingLowering.StateVersion))
  }
}
