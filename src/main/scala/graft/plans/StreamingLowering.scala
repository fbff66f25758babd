package graft.plans

import org.apache.spark.sql.{Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.core.Event

/** Lower a [[StreamGraph]] onto Structured Streaming. The reference's
  * program is ONE totally-ordered stream consumed by a single-threaded
  * interpreter (`Nodes.hs`) that pipelines its operators over one lazy
  * list; the streaming equivalent keeps stateful state in a single
  * `flatMapGroupsWithState` group (constant key), processing each
  * micro-batch in event-time order — the honest streaming translation of
  * that contract. Stateless operators lower to ordinary streaming
  * transformations and parallelize freely.
  *
  * ONE STATE MACHINE PER LINEAR STATEFUL RUN. The stateful vertices
  * (FilterAcc, Scan, Window in every lowered form) are first grouped into
  * maximal linear runs: a chain of stateful members, possibly with
  * stateless Map/Filter/Expand vertices between two members, where every
  * link is the unique successor of the previous vertex and has it as its
  * unique predecessor — so fan-out, Merge and Join end a run. Each run
  * lowers to ONE [[statefulLower]] group whose step folds the micro-batch
  * through the members' steps in graph order, re-sorting by
  * `Event.orderKey` between members exactly as a member's own group would,
  * so emitted events are bit-identical to one group per operator — minus
  * one exchange, one stateful stage and its state-store commits per extra
  * member and trigger. A single-operator run is the one-step case.
  *
  * ONE DEFINITION PER OPERATOR, ONE RUNNER. Each stateful operator's
  * per-micro-batch semantics is one step here ([[filterAccStep]],
  * [[scanStep]], [[chopStep]], [[chopTimeStep]], [[slidingStep]],
  * [[slidingTimeStep]]), generic in the payload type with typed state.
  * A run member calls it on its `graft-state-v5` slot through that
  * slot's `decode*State` adapter; [[graft.streaming.StreamingOps]]' keyed
  * operators call the same step per key, on the typed state their
  * encoders store. Every stateful streaming path — the keyed operators
  * and [[statefulLower]] (one constant key, no timeout, its version
  * envelope) — runs through [[runStateful]], the one
  * `flatMapGroupsWithState` call, which owns the state protocol.
  *
  * Supported: Source, Map, Filter, Expand, Merge (unordered union —
  * downstream event-time logic re-imposes order, matching SURVEY §2.1's
  * merge relaxation), FilterAcc, Scan, Sink, Join (stateful zip — both
  * sides buffered per-side in state, k-th paired with k-th), and Window
  * for the RECOGNIZED window-maker forms (`chop N`, `chopTime MS`,
  * `sliding N`, `slidingTime MS`, by param source string — the same
  * convention [[Bandwidth]] uses): each lowers to a stateful step whose
  * state is one open window (plus, for sliding forms, the pending tail),
  * emitted exactly when the reference's lazy-list semantics would close it
  * (a window closes when the first event beyond it arrives; trailing
  * partial windows of a finite replay stay pending, since an unbounded
  * stream never ends).
  *
  * Window with an ARBITRARY window-maker closure (any
  * `Stream a -> [Stream a]`, `FunctionalProcessing.hs:74-86`) lowers via
  * [[genericWindowStep]] — a bounded-buffer fallback that re-applies the
  * closure to the buffered stream prefix each micro-batch and emits every
  * produced window but the last. It is faithful for prefix-monotone
  * makers (checked at runtime, directed error otherwise) at O(prefix)
  * state cost — which is why the recognized forms keep their dedicated
  * O(window) lowerings. For column-typed pipelines prefer
  * [[graft.streaming.StreamingOps]] watermarked aggregations /
  * [[graft.streaming.StreamJoins]].
  */
object StreamingLowering {

  implicit private val enc: Encoder[Event[Any]] = Event.kryo
  private val encState: Encoder[Any] = Encoders.kryo[Any]

  /** Lower every vertex. A run's Dataset is built once, for its last
    * vertex; a vertex INSIDE a run has no Dataset of its own in the
    * lowered plan, so the returned map builds one on demand (the run's
    * prefix up to it) instead of eagerly analysing plans nothing runs. */
  def lower(spark: SparkSession, g: StreamGraph,
            sources: Map[Int, Dataset[Event[Any]]]): Map[Int, Dataset[Event[Any]]] = {
    val runs = statefulRuns(g)
    // vertex id -> (its run, the index of the member it belongs to)
    val runAt: Map[Int, (List[RunMember], Int)] = runs.flatMap { run =>
      run.zipWithIndex.flatMap { case (m, k) => m.vertices.map(_.id -> (run, k)) }
    }.toMap
    def runInput(run: List[RunMember]): Int = g.predecessors(run.head.v.id).head
    var out = Map.empty[Int, Dataset[Event[Any]]]
    for (v <- g.topoOrder) runAt.get(v.id) match {
      case Some((run, _)) =>
        if (v.id == run.last.lastId)
          out += v.id -> statefulLower(out(runInput(run)), run.map(_.member))
      case None =>
        val ins = g.predecessors(v.id).map(out)
        out += v.id -> (v.op match {
          case OpSource(_) => sources(v.id)
          case OpSink      => ins.head
          case OpMerge     => ins.reduce(_ union _)
          case OpJoin      => zipJoinLower(ins(0), ins(1))
          case _           => statelessLower(v, ins.head)
        })
    }
    lazy val all: Map[Int, Dataset[Event[Any]]] = out.withDefault { id =>
      val (run, k) = runAt(id)
      if (run(k).pre.exists(_.id == id)) statelessLower(g.byId(id), all(g.predecessors(id).head))
      // a member, or a vertex of its fused chain (the chain's closures
      // run inside the member's emit)
      else statefulLower(all(runInput(run)), run.take(k + 1).map(_.member))
    }
    all
  }

  /** Map, Filter and Expand as Dataset transformations. */
  private def statelessLower(v: StreamVertex, in: Dataset[Event[Any]]): Dataset[Event[Any]] =
    v.op match {
      case OpMap =>
        val f = v.params.head.fn.asInstanceOf[Any => Any]
        in.map(e => Event(e.time, e.value.map(f)))
      case OpFilter(_) =>
        val p = v.params.head.fn.asInstanceOf[Any => Boolean]
        in.filter((e: Event[Any]) => e.value.forall(p))
      case OpExpand => in.flatMap(expandEvent)
      case other    => throw new IllegalStateException(s"not a stateless operator: $other")
    }

  private[plans] def expandEvent(e: Event[Any]): Seq[Event[Any]] = e.value match {
    case Some(vs: Seq[_]) => vs.map(x => Event(e.time, Some(x: Any)))
    case Some(other)      => Seq(Event(e.time, Some(other)))
    case None             => Seq(Event[Any](e.time, None))
  }

  /** Map, Filter and Expand per event, with the semantics of
    * [[statelessLower]] — their form between two members of a run. */
  private def eventStep(v: StreamVertex): Event[Any] => IterableOnce[Event[Any]] =
    v.op match {
      case OpExpand => expandEvent
      case _        => chainStep(v)
    }

  /** A stateful operator's per-micro-batch step: its input events in
    * stream order and its state in, emitted rows and the new state out. */
  private[graft] type StepOf[A, O, S] = (IndexedSeq[Event[A]], S) => (IndexedSeq[O], S)

  /** A member's step as a run holds it: its state slot is null before its
    * first event. */
  private type Step = StepOf[Any, Event[Any], Any]

  /** A typed step on a run's state slot, through the slot's decoder. */
  private def onSlot[S](decode: Any => S)(step: StepOf[Any, Event[Any], S]): Step =
    (events, st) => step(events, decode(st))

  /** A member as [[statefulLower]] runs it: the per-event steps of the
    * stateless vertices before it in the run, then its own step. */
  private[plans] final case class Member(
      pre: List[Event[Any] => IterableOnce[Event[Any]]], step: Step)

  /** One member of a linear stateful run, as vertices: the stateless
    * vertices between the previous member and it (`pre`, empty for the
    * first), the stateful vertex, and — for a recognized window — the
    * Filter/Map chain fused into its emit (see [[fusionChain]]). */
  private[plans] final case class RunMember(
      pre: List[StreamVertex], v: StreamVertex, chain: List[StreamVertex]) {
    def vertices: List[StreamVertex] = pre ++ (v :: chain)
    def lastId: Int = chain.lastOption.getOrElse(v).id
    def member: Member = Member(pre.map(eventStep), stepOf(v, chain))
  }

  private def isStateful(v: StreamVertex): Boolean = v.op match {
    case _: OpFilterAcc | OpScan | OpWindow => true
    case _                                  => false
  }

  private def isStateless(v: StreamVertex): Boolean = v.op match {
    case OpMap | OpExpand | _: OpFilter => true
    case _                              => false
  }

  /** The vertex after `id` on a LINEAR link: `id`'s unique successor,
    * provided `id` is that successor's unique predecessor. */
  private def linearNext(g: StreamGraph, id: Int): Option[StreamVertex] =
    g.successors(id) match {
      case Vector(n) if g.predecessors(n) == Vector(id) => Some(g.byId(n))
      case _                                            => None
    }

  /** The graph's maximal linear stateful runs, each in graph order. A run
    * starts at a stateful vertex no earlier run claimed and extends over
    * linear links: past the member's fused chain, then across stateless
    * Map/Filter/Expand vertices, to the next stateful vertex. Stateless
    * vertices after the last member stay outside the run. Every stateful
    * vertex lands in exactly one run (possibly of one member). */
  private[plans] def statefulRuns(g: StreamGraph): List[List[RunMember]] = {
    def member(pre: List[StreamVertex], v: StreamVertex) =
      RunMember(pre, v,
        if (v.op == OpWindow && recognizedWindowStep(v).isDefined) fusionChain(g, v.id) else Nil)
    val claimed = scala.collection.mutable.Set.empty[Int]
    g.topoOrder.toList.filter(isStateful).flatMap { head =>
      if (claimed(head.id)) None
      else {
        val run = List.newBuilder[RunMember]
        var cur = member(Nil, head)
        var extending = true
        while (extending) {
          run += cur
          claimed += cur.v.id
          val pre = List.newBuilder[StreamVertex]
          var next = linearNext(g, cur.lastId)
          while (next.exists(isStateless)) {
            pre += next.get
            next = linearNext(g, next.get.id)
          }
          next.filter(isStateful) match {
            case Some(n) => cur = member(pre.result(), n)
            case None    => extending = false
          }
        }
        Some(run.result())
      }
    }
  }

  /** The step of one stateful vertex; a recognized window's emit runs its
    * fused `chain`. */
  private def stepOf(v: StreamVertex, chain: List[StreamVertex]): Step = v.op match {
    case OpFilterAcc(_) =>
      val init = v.params(1).fn
      onSlot(acc => if (acc == null) init else acc)(filterAccStep(
        v.params(0).fn.asInstanceOf[(Any, Any) => Any],
        v.params(2).fn.asInstanceOf[(Any, Any) => Boolean]))
    case OpScan =>
      val init = v.params(1).fn
      onSlot(acc => if (acc == null) init else acc)(
        scanStep(v.params(0).fn.asInstanceOf[(Any, Any) => Any]))
    case OpWindow =>
      recognizedWindowStep(v) match {
        case Some(mk) => mk(chainEmit(chain))
        case None =>
          v.params.head.fn match {
            // BoundedLookback IS a Function1 — match the declaration
            // first or it silently takes the O(prefix) generic path
            case bl: graft.core.BoundedLookback[_] =>
              boundedWindowStep(
                bl.maker.asInstanceOf[List[Event[Any]] => List[List[Event[Any]]]],
                bl.maxEvents)
            case maker: Function1[_, _] =>
              genericWindowStep(
                maker.asInstanceOf[List[Event[Any]] => List[List[Event[Any]]]])
            case _ =>
              throw new UnsupportedOperationException(
                "Window with a non-function window-maker parameter has no " +
                  "streaming lowering (recognized param forms: 'chop N', " +
                  "'chopTime MS', 'sliding N', 'slidingTime MS', or an " +
                  "executable WindowMaker closure for the bounded-buffer " +
                  "fallback); use graft.streaming.StreamingOps watermarked " +
                  "aggregations for column-typed pipelines")
          }
      }
    case other => throw new IllegalStateException(s"not a stateful operator: $other")
  }

  /** `streamFilterAcc` (FunctionalProcessing.hs:181-185): the accumulator
    * is updated on every data event, which is kept iff
    * `pred(value, accBefore)`; value-less events pass and leave it. */
  private[graft] def filterAccStep[A, B](accfn: (B, A) => B,
      pred: (A, B) => Boolean): StepOf[A, Event[A], B] =
    (events, acc0) => {
      var acc = acc0
      val kept = events.filter { e =>
        e.value match {
          case Some(x) => val keep = pred(x, acc); acc = accfn(acc, x); keep
          case None    => true
        }
      }
      (kept, acc)
    }

  /** `streamScan` (FunctionalProcessing.hs:188-191): each data event
    * emits the new accumulator at its time; value-less events pass as
    * value-less events and leave it. */
  private[graft] def scanStep[A, B](f: (B, A) => B): StepOf[A, Event[B], B] =
    (events, acc0) => {
      var acc = acc0
      val out = events.map { e =>
        e.value match {
          case Some(x) => acc = f(acc, x); Event(e.time, Some(acc))
          case None    => Event[B](e.time, None)
        }
      }
      (out, acc)
    }

  /** How each recognized window window-maker form steps, parameterized by
    * the per-closed-window emit (identity, or a fused Filter/Map chain).
    * Range-checked extractors, not `forall(_.isDigit)`: an out-of-range
    * count like "chop 9999999999" must fall through to the generic/error
    * path, not throw a bare NumberFormatException. */
  private def recognizedWindowStep(v: StreamVertex): Option[WindowEmit => Step] =
    v.params.head.src.trim.split("\\s+").toList match {
      case "chop" :: AsPosInt(n) :: Nil =>
        Some(emit => onSlot(decodeChopState)(chopStep(n, emit)))
      case "chopTime" :: AsPosLong(ms) :: Nil =>
        Some(emit => onSlot(decodeChopTimeState)(chopTimeStep(ms, emit)))
      case "sliding" :: AsPosInt(n) :: Nil =>
        Some(emit => onSlot(decodeSlidingState)(slidingStep(n, emit)))
      case "slidingTime" :: AsPosLong(ms) :: Nil =>
        Some(emit => onSlot(decodeSlidingTimeState)(slidingTimeStep(ms, emit)))
      case _ => None
    }

  /** WINDOW-CHAIN FUSION: the maximal linear chain of stateless Filter/Map
    * vertices strictly downstream of a recognized window `wid` — each link
    * must be the unique successor AND have the previous link as its unique
    * predecessor (fan-out or fan-in anywhere breaks fusion: another
    * consumer would need the unfused window contents). The chain runs
    * INSIDE the window's emit: each closed window runs the same closures in
    * the same order, so the window's CONTENTS never cross an operator
    * boundary. Unfused, every window emits its full event list downstream
    * (kryo round-trip per operator hop); for sliding forms that volume is
    * O(events × window size) — measured ~230× wall-clock at 26× density
    * on q_streaming_slidingtime, where the post-fusion output is one O(1)
    * aggregate row per window. Emitted values are bit-identical to the
    * unfused pipeline by construction. */
  private def fusionChain(g: StreamGraph, wid: Int): List[StreamVertex] =
    Iterator.iterate(linearNext(g, wid))(_.flatMap(nv => linearNext(g, nv.id)))
      .takeWhile(_.exists(nv => nv.op == OpMap || nv.op.isInstanceOf[OpFilter]))
      .map(_.get).toList

  /** Per-closed-window emission hook for the recognized window lowerings:
    * `apply` consumes the materialized window list; `fromRange` lets a
    * lowering whose windows OVERLAP (slidingTime — each event is in
    * ~window-many windows) hand over the window as index range
    * `[from, until)` of a PRIMITIVE mirror (parallel `vals`/`isData`
    * arrays built once per micro-batch by [[slidingTimeStep]]), so a
    * recognized fold touches no Event object, no Option, no cast per
    * element — the per-element cost drops from a kryo'd-object walk to
    * two or three flops. `vals` mirrors Double payloads only (any other
    * payload reads NaN). The default materializes the list from `evs`,
    * so un-fused pipelines and any payload type are untouched. */
  private[graft] trait WindowEmitter[A, O] extends Serializable {
    def apply(w: List[Event[A]]): Option[O]
    def fromRange(evs: Array[Event[A]], isData: Array[Boolean], vals: Array[Double],
                  from: Int, until: Int): Option[O] = {
      val b = List.newBuilder[Event[A]]
      var i = from
      while (i < until) { b += evs(i); i += 1 }
      apply(b.result())
    }
  }
  private[plans] type WindowEmit = WindowEmitter[Any, Event[Any]]

  /** Every closed window as its [[windowEvent]]: the keyed window
    * operators' emit. */
  private[graft] def windowEvents[A]: WindowEmitter[A, Event[List[A]]] =
    new WindowEmitter[A, Event[List[A]]] {
      def apply(w: List[Event[A]]): Option[Event[List[A]]] = Some(windowEvent(w))
    }

  /** Recheck cadence for fused window folds: every Nth window the fold
    * result is re-verified against the real chain closures (see
    * [[chainEmit]]). 1024 keeps the amortized materialization cost at
    * ~0.1% while bounding how long an input-dependent closure
    * divergence can go unnoticed. Package-visible for the fusion spec. */
  private[plans] val FusedFoldRecheckEvery = 1024L

  /** The fused per-window emit: the window materializes as the same
    * `windowEvent` the unfused path would send downstream, then the
    * absorbed chain's closures run on it in graph order with EXACTLY the
    * per-operator semantics of the unfused lowering (Filter keeps an
    * event iff `value.forall(p)`, Map transforms the value, time
    * untouched) — so fused and unfused pipelines are bit-identical.
    *
    * A `nonEmpty`→`<recognized aggregate>` chain (recognized by Param
    * source, the same convention as the window forms) additionally
    * overrides `fromRange` with a direct streaming fold:
    * same stamp rule, same left-to-right accumulation order — so the
    * emitted values are bit-identical — but ZERO per-window allocation,
    * where the list path allocates the window contents 3× per window
    * (toList, filter, map). For slidingTime at high density that is the
    * difference between O(events) and O(events × window) allocations.
    * The recognized aggregate names and the canonical closure each
    * promises (the Param NAME is the semantic contract):
    *   count       → `vs.length.toLong`
    *   sum         → `vs.foldLeft(0.0)(_ + _.asInstanceOf[Double])`
    *   min / max   → `vs.foldLeft(±∞)(math.min/max(_, _.asInstanceOf[Double]))`
    *   first / last→ `vs.head / vs.last` (as Double)
    *   countAndSum → `(count, sum)`
    *   stats       → `(count, sum, min, max)`
    * All require the leading `nonEmpty` filter (so first/last/min/max
    * never see an empty value list) and Double payloads. The fold is NOT
    * trusted blindly: on the FIRST window through each task instance and
    * then every [[FusedFoldRecheckEvery]]-th window after it, the window
    * is also materialized and the real closures run on it, failing
    * loudly on any mismatch (the genericWindowLower checked-soundness
    * pattern). The periodic recheck (not just once per task) closes the
    * input-dependent-divergence residual: a closure that agrees on the
    * first window but diverges later is caught within one recheck
    * period; the amortized cost is one list materialization per 1024
    * windows (~0.1%). A closure that diverges on fewer than 1/1024
    * windows can still slip between rechecks — the contract remains
    * "the Param NAME is the semantic promise", the recheck is defense
    * in depth. */
  private[plans] val RecognizedFoldNames: Set[String] =
    Set("count", "sum", "min", "max", "first", "last", "countAndSum", "stats")

  private[plans] def chainEmit(chain: List[StreamVertex]): WindowEmit = {
    val steps = chain.map(chainStep)
    val listEmit: List[Event[Any]] => Option[Event[Any]] =
      w => steps.foldLeft(Option(anyWindowEvent(w))) {
        case (None, _)       => None
        case (Some(e), step) => step(e)
      }
    chain.map(cv => (cv.op.name, cv.params.head.src)) match {
      case List(("Filter", "nonEmpty"), ("Map", name)) if RecognizedFoldNames(name) =>
        new FoldEmitter(name, listEmit)
      case _ =>
        new WindowEmit {
          def apply(w: List[Event[Any]]): Option[Event[Any]] = listEmit(w)
        }
    }
  }

  /** Map or Filter on one event, with exactly the per-operator semantics of
    * [[statelessLower]]: Filter keeps an event iff `value.forall(p)`, Map
    * transforms the value, time untouched. */
  private def chainStep(cv: StreamVertex): Event[Any] => Option[Event[Any]] =
    cv.op match {
      case OpMap =>
        val f = cv.params.head.fn.asInstanceOf[Any => Any]
        e => Some(Event(e.time, e.value.map(f)))
      case _: OpFilter =>
        val p = cv.params.head.fn.asInstanceOf[Any => Boolean]
        e => if (e.value.forall(p)) Some(e) else None
      case other =>
        throw new IllegalStateException(s"unfusable operator in window chain: $other")
    }

  /** The streaming fold behind every recognized `nonEmpty`→aggregate
    * chain: one pass accumulating (n, sum, min, max, first, last) —
    * each O(1) per element, `sum` strictly left-to-right, min/max via
    * `math.min`/`math.max` so NaN propagation matches the canonical
    * foldLeft closures — then a per-name projection. See [[chainEmit]]
    * for the name↔closure contract and the periodic recheck. */
  private[plans] final class FoldEmitter(
      name: String, listEmit: List[Event[Any]] => Option[Event[Any]])
      extends WindowEmit {
    @transient private var sinceCheck = 0L

    def apply(w: List[Event[Any]]): Option[Event[Any]] = listEmit(w)

    private def mismatch(viaFold: Option[Event[Any]], viaChain: Option[Event[Any]]) =
      new IllegalStateException(
        s"fused '$name' fold disagrees with the chain closures " +
          s"(fold=$viaFold, chain=$viaChain): the Param named " +
          s"'nonEmpty'/'$name' no longer means what the fused " +
          "fast path implements — rename the Param or fix the closure")

    // N-1, not N: the recheck window itself counts toward the cadence,
    // so "every 1024th window" means 1023 fold-only windows between
    // rechecks
    override def fromRange(evs: Array[Event[Any]], isData: Array[Boolean],
                           vals: Array[Double], from: Int, until: Int): Option[Event[Any]] =
      if (sinceCheck == 0L) {
        sinceCheck = FusedFoldRecheckEvery - 1
        val w = {
          val b = List.newBuilder[Event[Any]]
          var i = from
          while (i < until) { b += evs(i); i += 1 }
          b.result()
        }
        val viaFold = foldRange(evs, isData, vals, from, until)
        val viaChain = listEmit(w)
        if (viaFold != viaChain) throw mismatch(viaFold, viaChain)
        viaFold
      } else {
        sinceCheck -= 1
        foldRange(evs, isData, vals, from, until)
      }

    // count/sum/countAndSum read only (n, sum): their hot loop skips the
    // min/max/first/last lanes (project never looks at them) — the
    // O(events × window) fromRange path is the single-threaded arithmetic
    // floor of the slidingTime machine, so every per-element op counts.
    private val leanLanes: Boolean =
      name == "count" || name == "sum" || name == "countAndSum"

    private def foldRange(evs: Array[Event[Any]], isData: Array[Boolean],
                          vals: Array[Double], from: Int, until: Int): Option[Event[Any]] = {
      var n = 0L; var sum = 0.0
      var mn = Double.PositiveInfinity; var mx = Double.NegativeInfinity
      var fst = 0.0; var lst = 0.0
      var i = from
      if (leanLanes) {
        while (i < until) {
          if (isData(i)) { n += 1; sum += vals(i) }
          i += 1
        }
      } else {
        while (i < until) {
          if (isData(i)) {
            val x = vals(i)
            if (n == 0) fst = x
            lst = x; n += 1; sum += x
            mn = math.min(mn, x); mx = math.max(mx, x)
          }
          i += 1
        }
      }
      project(if (from < until) evs(from).time else None, n, sum, mn, mx, fst, lst)
    }

    private def project(stamp: Option[java.sql.Timestamp], n: Long, sum: Double,
                        mn: Double, mx: Double, fst: Double, lst: Double): Option[Event[Any]] =
      if (n == 0) None // empty contents: the nonEmpty filter drops it
      else Some(Event(stamp, Some(name match {
        case "count"       => n: Any
        case "sum"         => sum: Any
        case "min"         => mn: Any
        case "max"         => mx: Any
        case "first"       => fst: Any
        case "last"        => lst: Any
        case "countAndSum" => (n, sum): Any
        case "stats"       => (n, sum, mn, mx): Any
      })))
  }

  /** Per-operator checkpoint-state decoders. [[statefulLower]]'s
    * `(StateVersion, payload)` wrap catches checkpoints from builds with a
    * DIFFERENT version string; these catch the human-error case where a
    * state shape changed WITHOUT a version bump — the destructure is forced
    * inside the try (type erasure makes a bare `asInstanceOf` a no-op that
    * would surface as a ClassCastException deep in the operator), so a
    * wrong-shape payload gets a directed error naming the operator and the
    * fix. Package-visible for direct spec coverage (a wrong-shape payload
    * cannot be injected through a real checkpoint without one). */
  private def badState(op: String, expected: String, got: Any, e: Throwable) =
    new IllegalStateException(
      s"incompatible streaming checkpoint state for operator '$op': expected " +
        s"$expected, got ${got.getClass.getName}" +
        (got match { case xs: Seq[_] => s" of length ${xs.length}"; case _ => "" }) +
        s" (state encoding '$StateVersion'). " +
        "The checkpoint was written by a build with a different state shape — " +
        "restart the query with a fresh checkpointLocation (streaming state is " +
        "not migrated across shape changes), and bump StateVersion in the build " +
        "that changed the shape.", e)

  /** A run's state: one slot per member, in graph order (see
    * [[statefulLower]]). The member decoders below then check each slot. */
  private[plans] def decodeRunState(st: Any, arity: Int): Array[Any] = st match {
    case null                                    => new Array[Any](arity)
    case slots: List[_] if slots.length == arity => slots.toArray[Any]
    case _ => throw badState("stateful-run", s"a List of $arity member states", st, null)
  }

  private[plans] def decodeChopState(st: Any): (Int, List[Event[Any]]) =
    if (st == null) (0, Nil)
    else try { val (c, r) = st.asInstanceOf[(Int, List[Event[Any]])]; (c, r) }
    catch { case e: ClassCastException => throw badState("chop", "(Int, List[Event])", st, e) }

  private[plans] def decodeChopTimeState(st: Any): (Long, List[Event[Any]]) =
    if (st == null) (Long.MinValue, Nil)
    else try { val (s, r) = st.asInstanceOf[(Long, List[Event[Any]])]; (s, r) }
    catch { case e: ClassCastException => throw badState("chopTime", "(Long, List[Event])", st, e) }

  private[plans] def decodeSlidingState(st: Any): (Int, scala.collection.immutable.Queue[Event[Any]]) =
    if (st == null) (0, scala.collection.immutable.Queue.empty)
    else try {
      val (c, q) = st.asInstanceOf[(Int, scala.collection.immutable.Queue[Event[Any]])]; (c, q)
    } catch { case e: ClassCastException => throw badState("sliding", "(Int, Queue[Event])", st, e) }

  private[plans] def decodeSlidingTimeState(st: Any): scala.collection.immutable.Queue[Event[Any]] =
    if (st == null) scala.collection.immutable.Queue.empty
    else try st.asInstanceOf[scala.collection.immutable.Queue[Event[Any]]]
    catch { case e: ClassCastException => throw badState("slidingTime", "Queue[Event]", st, e) }

  private[plans] def decodeZipJoinState(st: Any): (List[(Option[java.sql.Timestamp], Any)], List[Any]) =
    if (st == null) (Nil, Nil)
    else try {
      val (l, r) = st.asInstanceOf[(List[(Option[java.sql.Timestamp], Any)], List[Any])]; (l, r)
    } catch { case e: ClassCastException => throw badState("zip-join", "(List[(time, value)], List[value])", st, e) }

  private object AsPosInt {
    def unapply(s: String): Option[Int] = s.toIntOption.filter(_ > 0)
  }
  private object AsPosLong {
    def unapply(s: String): Option[Long] = s.toLongOption.filter(_ > 0)
  }

  /** A window as one event: stamped with its first event's time, carrying
    * its data values; the empty window is `Event(None, Some(Nil))`. */
  private[graft] def windowEvent[A](w: List[Event[A]]): Event[List[A]] = w match {
    case Nil => Event[List[A]](None, Some(Nil))
    case _   => Event(w.head.time, Some(w.filter(_.isData).map(_.value.get)))
  }

  private def anyWindowEvent(w: List[Event[Any]]): Event[Any] =
    windowEvent(w).asInstanceOf[Event[Any]]

  /** `chop n` (FunctionalProcessing.hs:113-116): state = the open window's
    * data events (≤ n−1 between batches), kept REVERSED with an explicit
    * count so each event costs O(1) (a `buf :+ e` + `buf.length` formulation
    * is O(buffer) per event — O(n²) per window on this single-threaded hot
    * path). */
  private[graft] def chopStep[A, O](n: Int,
      emit: WindowEmitter[A, O]): StepOf[A, O, (Int, List[Event[A]])] = {
    (events, st) =>
      var (count, rev) = st
      val out = IndexedSeq.newBuilder[O]
      events.filter(_.isData).foreach { e =>
        rev = e :: rev
        count += 1
        if (count == n) { emit(rev.reverse).foreach(out += _); rev = Nil; count = 0 }
      }
      (out.result(), (count, rev))
    }

  /** `chopTime ms` with the reference's first-event alignment
    * (FunctionalProcessing.hs:118-129): state = (current window start, open
    * window). A window closes — and period-spanning gaps emit EMPTY
    * windows — when the first event at/after its end arrives.
    *
    * Gap guard: the reference's lazy list materializes one empty window per
    * elapsed period only as fast as the consumer demands them; a micro-batch
    * must materialize them all at once, so a single corrupt far-future
    * timestamp (or a tiny window over a long-idle stream) would emit an
    * unbounded row burst and stall the batch. Gaps longer than
    * [[MaxEmptyWindowsPerGap]] periods therefore close the open window and
    * emit empties up to a TOTAL of [[MaxEmptyWindowsPerGap]] emitted
    * windows for the gap (the closing data window counts as one), then
    * JUMP the window origin forward to the period containing the new event
    * (`start + ((t-start)/ms)*ms` — still first-event-aligned). Normal
    * gaps keep the faithful one-empty-per-period semantics. */
  private[plans] val MaxEmptyWindowsPerGap = 10000L

  private def chopTimeStep[A, O](ms: Long,
      emit: WindowEmitter[A, O]): StepOf[A, O, (Long, List[Event[A]])] = {
    (events, st) =>
      // Long.MinValue = "no window open yet": a -1 sentinel would re-trigger
      // initialization on every PRE-EPOCH (negative) timestamp, resetting
      // the origin forever and never closing a window. Buffer kept reversed
      // for O(1) append (see chopStep). All arithmetic in MICROSECONDS
      // (state stores a µs origin — part of the StateVersion contract):
      // getTime's ms granularity would misplace events within 1 ms of a
      // window boundary on µs-granular streams.
      val msUs = ms * 1000L
      var (start, rev) = st
      val out = IndexedSeq.newBuilder[O]
      events.filter(_.isTimed).foreach { e =>
        val t = Event.micros(e.time.get)
        if (start == Long.MinValue) start = t
        if (t >= start + msUs && (t - start) / msUs > MaxEmptyWindowsPerGap) {
          emit(rev.reverse).foreach(out += _)
          rev = Nil
          var emitted = 1L
          while (emitted < MaxEmptyWindowsPerGap) { emit(Nil).foreach(out += _); emitted += 1 }
          start += ((t - start) / msUs) * msUs
        }
        while (t >= start + msUs) {
          emit(rev.reverse).foreach(out += _)
          rev = Nil
          start += msUs
        }
        rev = e :: rev
      }
      (out.result(), (start, rev))
    }

  /** `sliding n` (FunctionalProcessing.hs:93-97): per data event, the window
    * of the next n events; state = the last ≤ n−1 data events, in a FIFO
    * queue with an explicit count so enqueue/dequeue are O(1) per event
    * (the window materializes O(n) only when one closes — unavoidable). */
  private[graft] def slidingStep[A, O](n: Int, emit: WindowEmitter[A, O])
      : StepOf[A, O, (Int, scala.collection.immutable.Queue[Event[A]])] = {
    (events, st) =>
      var (count, buf) = st
      val out = IndexedSeq.newBuilder[O]
      events.filter(_.isData).foreach { e =>
        buf = buf.enqueue(e)
        count += 1
        if (count == n) {
          emit(buf.toList).foreach(out += _)
          val (_, rest) = buf.dequeue
          buf = rest
          count -= 1
        }
      }
      (out.result(), (count, buf))
    }

  /** `slidingTime ms` (FunctionalProcessing.hs:99-108): per timed event e,
    * the window [e.time, e.time+ms); e's window closes when the first event
    * at/after e.time+ms arrives. State = events still inside some pending
    * window — O(window), not O(history) — in a FIFO queue so the per-event
    * append and the per-closed-window head-drop are O(1).
    *
    * Each event sits in ~window-many overlapping windows, so the
    * per-window emit dominates at high density — O(events × window) emit
    * work is inherent to the per-window exact-fold contract, but its
    * CONSTANT is not: the batch's events (carried state + arrivals, in
    * identical order) are mirrored ONCE into primitive `times`/`vals`/
    * `isData` arrays, the close loop walks indices, and the emit takes
    * [[WindowEmitter.fromRange]] — a recognized fused fold then touches
    * no Event object, no Option, no Timestamp re-decode per element per
    * window. One loop serves every payload type: `vals` mirrors Double
    * payloads, and the default `fromRange` reads the events themselves. */
  private[graft] def slidingTimeStep[A, O](ms: Long, emit: WindowEmitter[A, O])
      : StepOf[A, O, scala.collection.immutable.Queue[Event[A]]] = {
    (events, buf) =>
      // µs arithmetic (see chopTimeStep)
      val msUs = ms * 1000L
      val out = IndexedSeq.newBuilder[O]
      val timed = events.filter(_.isTimed)
      val carried = buf.length
      val n = carried + timed.length
      val evs = new Array[Event[A]](n)
      locally { var i = 0; buf.foreach { e => evs(i) = e; i += 1 }
        timed.foreach { e => evs(i) = e; i += 1 } }
      val times = new Array[Long](n)
      val isData = new Array[Boolean](n)
      val vals = new Array[Double](n)
      locally { var i = 0
        while (i < n) {
          val e = evs(i)
          times(i) = Event.micros(e.time.get)
          isData(i) = e.isData
          if (e.isData) vals(i) = e.value.get match {
            case d: java.lang.Double => d
            case _                   => Double.NaN
          }
          i += 1
        } }
      var h = 0
      var idx = carried
      // A window is the pending events from its anchor h up to the FIRST
      // one at/after its end (first-stop). Window-end boundary carried
      // across windows: when ends (= times(h)+ms) are non-decreasing in h
      // — the sorted-batch common case — every index the scan has passed
      // satisfied `times < end` against an end no larger than the current
      // one, so the bound resumes where the previous window stopped and
      // the scan is O(n) total instead of O(n·window). Late data across
      // micro-batches makes the combined carried++batch array
      // non-monotone (each batch is sorted, but a new batch can start
      // earlier than carried state): there an end can REGRESS, and a
      // resumed bound would overshoot the first stop and include events
      // at/after the window end. Detect the regression and restart the
      // scan at h: first-stop semantics are restored exactly, still O(n)
      // total for sorted input (regressions cost a local re-scan only).
      var upTo = 0
      var prevEnd = Long.MinValue
      while (idx < n) {
        val t = times(idx)
        while (h < idx && times(h) + msUs <= t) {
          val end = times(h) + msUs
          if (end < prevEnd) upTo = h
          prevEnd = end
          if (upTo < h) upTo = h
          while (upTo < idx && times(upTo) < end) upTo += 1
          emit.fromRange(evs, isData, vals, h, upTo).foreach(out += _)
          h += 1
        }
        idx += 1
      }
      var rest = scala.collection.immutable.Queue.empty[Event[A]]
      while (h < n) { rest = rest.enqueue(evs(h)); h += 1 }
      (out.result(), rest)
    }

  /** Cap on the generic window fallback's buffered stream prefix — the
    * honest cost of an arbitrary closure: it must see the prefix it
    * windows, so state is O(prefix), not O(window). Past this the
    * lowering fails loudly instead of growing into an executor OOM. */
  private[plans] val MaxGenericWindowBufferedEvents: Int = 1000000

  private[plans] def decodeGenericWindowState(
      st: Any): (Int, Int, Option[Event[Any]], List[Event[Any]]) =
    if (st == null) (0, 0, None, Nil)
    else try {
      val (n, h, last, rev) =
        st.asInstanceOf[(Int, Int, Option[Event[Any]], List[Event[Any]])]
      (n, h, last, rev)
    } catch {
      case e: ClassCastException =>
        throw badState("generic-window", "(Int, Int, Option[Event], List[Event])", st, e)
    }

  /** ARBITRARY `WindowMaker` closures (reference
    * `FunctionalProcessing.hs:74-86` accepts any `Stream a -> [Stream a]`;
    * custom makers e.g. `tripTimes`, `examples/taxi/Taxi.hs:400-402`) —
    * the bounded-buffer fallback the recognized forms' O(window) lowerings
    * deliberately avoid: state buffers the WHOLE stream prefix (capped at
    * `maxBuffer`, directed error beyond — the zip-join precedent), each
    * micro-batch re-applies the user closure to the prefix, and every
    * produced window EXCEPT the last is emitted (the last may still grow;
    * on a finite replay the output is exactly `maker(prefix).dropRight(1)`
    * — the generic form of the recognized lowerings' "trailing pending
    * window" contract, matching the batch interpreter on every closed
    * window).
    *
    * Soundness is CHECKED, not assumed: the fallback is faithful only for
    * prefix-monotone makers (appending events never rewrites an already
    * produced non-final window — true of every reference maker, which
    * consume the stream front-to-back). State carries a running hash of
    * the emitted prefix PLUS the last emitted window itself; if
    * re-application ever disagrees with what was already emitted, the
    * lowering raises a directed error naming the contract instead of
    * silently diverging from the batch semantics. The boundary window —
    * the one a non-monotone maker is overwhelmingly likely to rewrite
    * when new events arrive, since makers consume the stream
    * front-to-back — is compared by EXACT equality; rewrites of interior
    * windows are caught by the 32-bit prefix hash, which carries a 2⁻³²
    * false-negative chance per check (a collision between the old and
    * rewritten prefix hashes would mask the divergence). Note also the
    * state cost: each micro-batch re-serializes the whole buffered
    * prefix into checkpoint state — inherent to an arbitrary closure
    * (it may window any of the prefix), and the reason the recognized
    * forms keep their dedicated O(window) lowerings. */
  private def genericWindowStep(maker: List[Event[Any]] => List[List[Event[Any]]],
      maxBuffer: Int = MaxGenericWindowBufferedEvents): Step = {
    (events, st) =>
      var (emitted, emittedHash, lastEmitted, rev) = decodeGenericWindowState(st)
      events.foreach { e => rev = e :: rev }
      val buffered = rev.length
      if (buffered > maxBuffer) {
        throw new IllegalStateException(
          s"generic window-maker state exceeded maxBuffer=$maxBuffer: an arbitrary " +
            "closure must buffer the whole stream prefix (it may window any of it), " +
            "so state grows with stream length. Use a recognized maker form " +
            "('chop N', 'chopTime MS', 'sliding N', 'slidingTime MS' — O(window) " +
            "state) or a graft.streaming.StreamingOps watermarked aggregation.")
      }
      val windows = maker(rev.reverse)
      val closed = if (windows.isEmpty) Nil else windows.init
      val replayPrefix = closed.take(emitted).map(anyWindowEvent)
      val replayHash = scala.util.hashing.MurmurHash3.orderedHash(replayPrefix)
      // the boundary (most recently emitted) window is checked by EXACT
      // equality — it is where a non-monotone maker rewrites first;
      // interior windows fall back to the 32-bit prefix hash (2^-32
      // false-negative residual, documented above)
      if (emitted > closed.length ||
          (emitted > 0 && (replayHash != emittedHash ||
            !lastEmitted.contains(replayPrefix.last)))) {
        throw new IllegalStateException(
          "generic window-maker is not prefix-monotone: re-applying the closure to " +
            s"the grown prefix rewrote ${if (emitted > closed.length) "away" else "the content of"} " +
            "already-emitted windows. An emitted streaming row cannot be retracted, " +
            "so this maker has no faithful incremental lowering — run it on the " +
            "batch surface (StreamOps.streamWindow) instead.")
      }
      val fresh = closed.drop(emitted).map(anyWindowEvent).toIndexedSeq
      emittedHash = scala.util.hashing.MurmurHash3
        .orderedHash(closed.map(anyWindowEvent))
      emitted = closed.length
      lastEmitted = fresh.lastOption.orElse(lastEmitted)
      (fresh, (emitted, emittedHash, lastEmitted, rev))
    }

  private[plans] def decodeBoundedWindowState(st: Any): List[Event[Any]] =
    if (st == null) Nil
    else try st.asInstanceOf[List[Event[Any]]]
    catch { case e: ClassCastException => throw badState("bounded-window", "List[Event]", st, e) }

  /** Custom window makers DECLARED bounded-lookback
    * ([[graft.core.BoundedLookback]]): the O(maxEvents)-state lowering the
    * generic fallback cannot be. The reference's real custom makers are
    * single-event re-stampers (`tripTimes`,
    * `examples/taxi/Taxi.hs:400-402`) — lookback 1 — but the general
    * `WindowMaker` type admits anything, so [[genericWindowLower]] must
    * buffer the whole prefix. The declaration licenses EVICTION: state
    * keeps only the retained suffix from which the maker reproduces its
    * currently-open window, never more than `maxEvents` events between
    * micro-batches.
    *
    * Per micro-batch: append the batch to the retained suffix, apply the
    * maker once; every produced window but the last is CLOSED and emitted
    * (the last may still grow — the same trailing-pending contract as
    * every other window lowering). Then evict: find a suffix of at most
    * `maxEvents` events from which the maker reproduces exactly
    * `[openWindow]` — the open window bit-for-bit, and no closed
    * windows (which would re-emit on the next batch) — preferring the
    * open window's own length, else the shortest. That suffix becomes
    * the carried state, restoring the invariant `maker(state) ==
    * [open]`/`[]` that makes emitted-window bookkeeping unnecessary.
    * Any reproducing suffix is equally faithful: events before the open
    * window's first event are exactly what the declaration promises the
    * maker ignores.
    *
    * The declaration is CHECKED, not trusted (the lying-Param pattern):
    * if NO suffix within `maxEvents` reproduces the open window — the
    * open window actually spans more events than declared, or its
    * contents depend on events before its own first event — the lowering
    * raises a directed error at that eviction instead of silently
    * diverging from the batch semantics. Residual (see
    * [[graft.core.BoundedLookback]]'s scaladoc): a dependence on evicted
    * events that is invisible in every open window at eviction time but
    * surfaces only in windows closed later is indistinguishable from
    * bounded lookback when the check runs; such a maker diverges from the
    * batch surface without an error. The contract remains "the
    * declaration is the semantic promise" — the check is defense in
    * depth, exactly like the fused-fold recheck.
    *
    * Cost: one maker application over O(batch + maxEvents) events per
    * micro-batch, plus the eviction search. The search tries the NATURAL
    * candidate first — the suffix of exactly the open window's length,
    * which is the right answer for every maker whose open window is a
    * plain suffix of its input (all the reference's re-stampers, every
    * sliding/chop shape) — so the common case is ONE extra maker
    * application over O(|open|) events; only a maker whose open window
    * is not an input suffix (e.g. it drops or reorders events within the
    * window) falls back to the exhaustive ≤ maxEvents+1 applications.
    * O(batch) per batch and O(maxEvents) checkpoint state either way,
    * vs the generic fallback's O(prefix) both ways. */
  private def boundedWindowStep(maker: List[Event[Any]] => List[List[Event[Any]]],
      maxEvents: Int): Step = {
    (events, st) =>
      var rev = decodeBoundedWindowState(st) // retained suffix, reversed
      events.foreach { e => rev = e :: rev }
      val windows = maker(rev.reverse)
      def lieError(detail: String) = new IllegalStateException(
        s"BoundedLookback(maxEvents=$maxEvents) declaration is false for this " +
          s"window maker: $detail. The streaming lowering evicts events before " +
          "the open window's span on the strength of that declaration, so a " +
          "maker that looks further back has no faithful bounded-state " +
          "lowering — raise maxEvents to the maker's true lookback, or drop " +
          "the BoundedLookback wrapper to use the O(prefix) generic fallback " +
          "(capped at MaxGenericWindowBufferedEvents), or run it on the batch " +
          "surface (StreamOps.streamWindow).")
      if (windows.isEmpty) {
        // no window yet: the declaration bounds any future window's span to
        // maxEvents events, so only the last maxEvents can ever be windowed
        if (rev.length > maxEvents) {
          val retainedRev = rev.take(maxEvents)
          if (maker(retainedRev.reverse).nonEmpty)
            throw lieError("the maker produces no window from the full " +
              s"buffered prefix (${rev.length} events) but produces one from " +
              s"its last $maxEvents events, so its output depends on evicted " +
              "events in a way the declaration rules out")
          rev = retainedRev
        }
        (IndexedSeq.empty[Event[Any]], rev)
      } else {
        val open = windows.last
        val out = windows.init.map(anyWindowEvent).toIndexedSeq
        val expected = List(open)
        val cap = math.min(maxEvents, rev.length)
        def reproduces(k: Int): Boolean = maker(rev.take(k).reverse) == expected
        val cand = open.length
        var found = if (cand <= cap && reproduces(cand)) cand else -1
        var k = 0
        while (k <= cap && found < 0) {
          if (k != cand && reproduces(k)) found = k
          k += 1
        }
        if (found < 0)
          throw lieError("no suffix of at most maxEvents events reproduces " +
            "the currently-open window exactly while closing nothing new — " +
            "the open window spans more input events than declared, or its " +
            "contents depend on events before its own first event")
        (out, rev.take(found))
      }
    }

  /** Cap on the zip-join's unpaired tail. The reference's `zip` buffers the
    * faster side without bound while the slower side lags (lazy-list
    * semantics); faithful — but under PERMANENT source imbalance that state
    * grows forever and dies as an executor OOM long after the cause. Past
    * this many buffered unpaired events the lowering instead fails loudly,
    * naming the side that fell behind. */
  private[plans] val MaxZipBufferedEvents: Int = 1000000

  /** [[genericWindowStep]] and [[boundedWindowStep]] as one-member runs. */
  private[plans] def genericWindowLower(ds: Dataset[Event[Any]],
      maker: List[Event[Any]] => List[List[Event[Any]]],
      maxBuffer: Int = MaxGenericWindowBufferedEvents): Dataset[Event[Any]] =
    statefulLower(ds, List(Member(Nil, genericWindowStep(maker, maxBuffer))))

  private[plans] def boundedWindowLower(ds: Dataset[Event[Any]],
      maker: List[Event[Any]] => List[List[Event[Any]]],
      maxEvents: Int): Dataset[Event[Any]] =
    statefulLower(ds, List(Member(Nil, boundedWindowStep(maker, maxEvents))))

  /** `streamJoin` pairwise zip (FunctionalProcessing.hs:148-155): both
    * sides' data events buffered per-side in state, k-th paired with k-th,
    * output stamped from the LEFT event. State grows with the rate
    * MISMATCH between sides (exactly the reference's lazy-list buffering),
    * not with stream length when rates match; a mismatch beyond `maxBuffer`
    * events raises a directed error instead of growing without bound. */
  private[plans] def zipJoinLower(left: Dataset[Event[Any]], right: Dataset[Event[Any]],
                                  maxBuffer: Int = MaxZipBufferedEvents): Dataset[Event[Any]] = {
    val tagged = left.map(e => Event(e.time, e.value.map(v => (0, v): Any)))
      .union(right.map(e => Event(e.time, e.value.map(v => (1, v): Any))))
    statefulLower(tagged, List(Member(Nil, zipJoinStep(maxBuffer))))
  }

  private def zipJoinStep(maxBuffer: Int): Step = {
    (events, st) =>
      var (lq, rq) = decodeZipJoinState(st)
      // batch arrivals collected in builders, appended to the carried
      // lists ONCE: the previous `lq = lq :+ e` per event was O(len) per
      // append — O(batch²) per micro-batch, measured 27.7x wall at 10x
      // rows in the r11 scale sweep (88 s; linear after this fix)
      val newL = IndexedSeq.newBuilder[(Option[java.sql.Timestamp], Any)]
      val newR = IndexedSeq.newBuilder[Any]
      events.foreach { e =>
        e.value match {
          case Some((0, v)) => newL += (e.time -> v)
          case Some((1, v)) => newR += v
          case _            => () // ticks don't join
        }
      }
      lq = lq ++ newL.result()
      rq = rq ++ newR.result()
      val k = math.min(lq.length, rq.length)
      // Guard BEFORE pairing: the leftover after this batch's pairing is
      // max(len) - k, a cheap length check — no point computing `out` (or
      // mutating lq/rq) when the throw would discard it anyway.
      val buffered = math.max(lq.length, rq.length) - k
      if (buffered > maxBuffer) {
        val (fast, slow) = if (lq.length > rq.length) ("left", "right") else ("right", "left")
        throw new IllegalStateException(
          s"zip-join state exceeded maxBuffer=$maxBuffer: $buffered unpaired events " +
            s"buffered from the $fast side because the $slow side has fallen behind. " +
            "zip pairs k-th with k-th, so a permanently slower/finished side grows " +
            "state without bound (the reference's lazy zip blocks the same way). " +
            "Fix the lagging source, or pair by key/time instead " +
            "(graft.streaming.StreamJoins) if the sides are not rate-matched.")
      }
      val out = lq.take(k).zip(rq.take(k)).map { case ((lt, lv), rv) =>
        Event(lt, Some((lv, rv): Any))
      }.toIndexedSeq
      lq = lq.drop(k); rq = rq.drop(k)
      (out, (lq, rq))
  }

  /** Checkpoint state-shape version. Every run's state is stored wrapped
    * as `(StateVersion, payload)`; a checkpoint written by a build with a
    * DIFFERENT state encoding (the shapes changed in round 3: List →
    * (Int, List)/Queue) fails the unwrap match and gets a DIRECTED error
    * naming the fix, instead of a bare ClassCastException deep in an
    * operator. Bump the version string whenever any operator's state shape
    * changes. (v3: chopTime's stored window origin switched from ms to µs —
    * same Long shape, incompatible meaning. v4: generic-window state grew
    * the last-emitted window for the exact boundary monotonicity check.
    * v5: a linear stateful run shares one group, so the payload is the
    * List of its members' states — see [[decodeRunState]].) */
  private[plans] val StateVersion = "graft-state-v5"

  /** The state machine of one linear stateful run (see the object
    * header): the micro-batch's events sorted into stream order, folded
    * through each member's step in graph order, state carried across
    * batches as one slot per member.
    *
    * TIMED events with equal timestamps are tiebroken by a content hash of
    * the payload, so the fold order — and hence e.g. which k-th left event
    * the zip-join pairs with which k-th right — does not depend on shuffle
    * arrival order within a batch. UNTIMED events keep arrival order (the
    * sort is stable and their key is constant) — the reference's contract
    * for untimed streams. Equal-time events split ACROSS micro-batch
    * boundaries still fold in batch order: that is inherent to incremental
    * consumption (a source sequence number would not fix it either without
    * a reorder buffer).
    *
    * Between members, the previous member's output passes through the
    * stateless vertices between them and is re-sorted by `Event.orderKey`
    * — exactly what that member's own group would have done to its input —
    * so the run emits the events a chain of one group per operator would.
    * A member whose input is empty is not stepped (a group with no rows is
    * not invoked) and keeps its slot. */
  private[plans] def statefulLower(ds: Dataset[Event[Any]], members: List[Member]): Dataset[Event[Any]] = {
    val arity = members.length
    runStateful[Event[Any], Int, Any, Event[Any]](ds, _ => 0, null, idleTimeoutMs = None) {
      (_, st, it) =>
        val slots = st match {
          case null                    => decodeRunState(null, arity)
          case (StateVersion, payload) => decodeRunState(payload, arity)
          case other => throw new IllegalStateException(
            s"incompatible streaming checkpoint state (${other.getClass.getName}): " +
              s"this build's state encoding is '$StateVersion'; the checkpoint was " +
              "written by a build with a different encoding. Restart the query with " +
              "a fresh checkpointLocation (streaming state is not migrated across " +
              "encoding changes).")
        }
        var evs = inStreamOrder(it.toIndexedSeq)
        members.iterator.zipWithIndex.foreach { case (m, i) =>
          if (i > 0) evs = inStreamOrder(m.pre.foldLeft(evs)((xs, f) => xs.flatMap(f)))
          if (evs.nonEmpty) {
            val (o, s) = m.step(evs, slots(i))
            evs = o; slots(i) = s
          }
        }
        (evs, (StateVersion, slots.toList))
    }(Encoders.scalaInt, encState, enc)
  }

  /** The one `flatMapGroupsWithState` call: the state protocol every
    * stateful streaming path shares. A group whose idle timeout fired
    * removes its state and emits nothing. Otherwise `f` gets the group's
    * key, its stored state (`init` before the group's first batch) and
    * its rows of the micro-batch, and returns the rows to emit and the
    * state to store; with `idleTimeoutMs` the group's processing-time
    * timeout is re-armed. Without it a group's state lives forever — the
    * reference's semantics for an accumulator. A `null` state (a `null`
    * init left unchanged by a batch of value-less events) is stored as no
    * state, since Spark rejects `null`: the next batch starts from `init`. */
  private[graft] def runStateful[R, K, S, O](ds: Dataset[R], key: R => K, init: S,
      idleTimeoutMs: Option[Long])(f: (K, S, Iterator[R]) => (Iterable[O], S))(
      implicit encK: Encoder[K], encS: Encoder[S], encO: Encoder[O]): Dataset[O] =
    ds.groupByKey(key)
      .flatMapGroupsWithState[S, O](OutputMode.Append,
        if (idleTimeoutMs.isDefined) GroupStateTimeout.ProcessingTimeTimeout
        else GroupStateTimeout.NoTimeout) { (k: K, it: Iterator[R], state: GroupState[S]) =>
        if (state.hasTimedOut) { state.remove(); Iterator.empty }
        else {
          val (out, s) = f(k, state.getOption.getOrElse(init), it)
          if (s == null) state.remove()
          else {
            state.update(s)
            idleTimeoutMs.foreach(state.setTimeoutDuration)
          }
          out.iterator
        }
      }

  /** Stable sort by `Event.orderKey`, each key computed once. */
  private[graft] def inStreamOrder[A](evs: IndexedSeq[Event[A]]): IndexedSeq[Event[A]] =
    evs.map(e => (Event.orderKey(e), e)).sortBy(_._1).map(_._2)
}
