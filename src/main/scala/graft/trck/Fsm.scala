package graft.trck

import Compiled._

/** The trail-matching FSM interpreter — the one genuinely custom operator
  * of this engine (SURVEY.md §2 M1-M9). A faithful re-expression of the
  * reference's generated goto-machine (reference: src/fsm2c.py:612-668
  * compile_block, :935-965 match_trail skeleton) as a pure JVM interpreter.
  *
  * Purity contract (reference: src/match_traildb.c:578-608): the result is a
  * pure function of (program, starting state, param bindings, trail) — which
  * is what makes runs memoizable per foreach tuple and partitioning-safe.
  */
object Fsm {

  /** One trail event in compact positional form. `fields(i)` is the value of
    * `prog.fields(i)`, "" when absent (reference id-0 semantics,
    * src/db.c:90-113). `fields == null` marks the empty finalization dummy
    * (reference: src/match_traildb.c:59-79).
    */
  final class TrailEvent(val ts: Long, val fields: Array[String]) {
    def isEmpty: Boolean = fields eq null
  }

  /** Per-(trail × tuple) FSM state (reference: src/fsm2c.py:836-846). */
  final class FsmState(nOuters: Int) {
    var ri: Int = 0
    var windowExpires: Long = ExpiresNever
    val outerIds: Array[Int] = Array.fill(nOuters + 1)(-1)
    val outerExpires: Array[Long] = new Array[Long](nOuters + 1)

    def copyOf(): FsmState = {
      val s = new FsmState(outerIds.length - 1)
      s.ri = ri; s.windowExpires = windowExpires
      System.arraycopy(outerIds, 0, s.outerIds, 0, outerIds.length)
      System.arraycopy(outerExpires, 0, s.outerExpires, 0, outerExpires.length)
      s
    }

    /** reference: gen_is_initial_state (src/fsm2c.py:905-914) */
    def isInitial(entrypoint: Int): Boolean =
      (windowExpires == 0 || windowExpires == ExpiresNever) &&
        ri == entrypoint && outerIds(0) == -1

    /** reference: gen_match_same_state (src/fsm2c.py:916-930) */
    def sameAs(o: FsmState): Boolean = {
      if (o eq this) return true // aliased per-tuple states (TrailMatcher shares them)
      if (ri != o.ri || windowExpires != o.windowExpires) return false
      var i = 0
      while (i < outerIds.length - 1) {
        if (outerIds(i) != o.outerIds(i)) return false
        if (outerIds(i) == -1) return true
        if (outerExpires(i) != o.outerExpires(i)) return false
        i += 1
      }
      true
    }
  }

  object FsmState {
    def initial(prog: CompiledProgram): FsmState = {
      val s = new FsmState(prog.nWindowRules)
      s.ri = prog.entrypoint
      s
    }
  }

  /** Param bindings: scalars `%x`, sets `#x` (reference:
    * src/match_traildb.c:86-159). Timestamp-typed scalars are parsed
    * numerically on demand.
    */
  final case class Bindings(
      scalars: Map[String, String] = Map.empty,
      sets: Map[String, Set[String]] = Map.empty,
  ) {
    def scalar(sigilName: String): String =
      scalars.getOrElse(Ir.stripType(sigilName), null)
    def set(sigilName: String): Set[String] =
      sets.getOrElse(Ir.stripType(sigilName), null)
    def tsScalar(sigilName: String): Long = {
      val v = scalar(sigilName)
      if (v == null) -1L else java.lang.Long.parseLong(v.trim)
    }
  }

  /** Trail context: position cursor over a (filtered, consecutive-dup-free)
    * event array (reference: src/ctx.c:42-134). Duplicate elision is applied
    * at construction — equivalent to the reference's advance-time skip
    * because every consumption goes through advance and the first event is
    * never skipped (reference: src/ctx.c:112-131).
    */
  final class TrailCtx(
      val cookie: String,
      val events: Array[TrailEvent],
      val filterStart: Long = 0L,
      val filterEnd: Long = 0L,
  ) {
    var pos: Int = 0
    def endOfTrail: Boolean = pos >= events.length
    def current: TrailEvent = events(pos)
    def advance(): Unit = if (pos < events.length) pos += 1

    /** cookie as 16 zero-padded raw bytes, carried as an ISO-8859-1 string
      * (reference: bin/json2tdb:36-38 pads; src/results_json.c:88-103 hexes
      * at output). Type 'B' tuple items hold this form.
      */
    lazy val cookiePadded: String = {
      val b = new Array[Byte](16)
      val raw = cookie.getBytes("UTF-8")
      System.arraycopy(raw, 0, b, 0, math.min(raw.length, 16))
      new String(b, "ISO-8859-1")
    }
  }

  object TrailCtx {
    def finalization(cookie: String): TrailCtx =
      new TrailCtx(cookie, Array(new TrailEvent(MaxTimestamp, null)))
  }

  /** Where yields land. `values(i)` is the raw item (cookie = 16 raw bytes
    * as ISO-8859-1); `types(i)` is Tuple.TypeString / Tuple.TypeBytes.
    */
  trait Emitter {
    def counter(dst: String): Unit
    def set(dst: String, values: Array[String], types: Array[Byte]): Unit
    def multiset(dst: String, values: Array[String], types: Array[Byte]): Unit
    def hll(dst: String, values: Array[String], types: Array[Byte]): Unit
  }

  /** Run telemetry driving the foreach skip optimizations (reference flags
    * GROUPBY_USED / RESULT_UPDATED, src/fns_imported.h:63-65). We set
    * groupbyUsed only when a *foreach* var is consulted (the reference sets
    * it for any param var — ours reuses strictly more runs, which is safe
    * because free vars are constant across tuples) and additionally when a
    * foreach var is echoed by a yield.
    */
  final class RunStats {
    var groupbyUsed: Boolean = false
    var resultUpdated: Boolean = false
    def reset(): Unit = { groupbyUsed = false; resultUpdated = false }
  }

  final class NonExhaustiveException(rule: String, ts: Long)
      extends RuntimeException(s"non-exhaustive clauses at statement $rule (ts=$ts)")

  type Fcall = Seq[String] => String

  /** User fcall module: named external functions plus run-scoped lifecycle
    * hooks (≙ reference src/match_traildb.c:1221-1229 — weak initialize()/
    * finalize() overridable by the linked .tr.c module, invoked once
    * around the whole query run at :1248/:1256). On Spark the hooks run on
    * the DRIVER around the query; per-executor setup belongs inside the
    * function closures themselves (initialized lazily per JVM), since
    * executors have no run-scoped lifecycle the reference's single-process
    * model could promise.
    */
  final case class FcallModule(
      fcalls: Map[String, Fcall],
      onInitialize: () => Unit = () => (),
      onFinalize: () => Unit = () => (),
  )

  // control-flow modes of the interpreter loop
  private final val START = 0
  private final val CONT = 1
  private final val LOOP = 2
  private final val STOP = 3

  /** Run the FSM over one trail, resuming from `state`. Returns true when
    * the machine quit (abort), mirroring `int match_trail(...)`.
    */
  def matchTrail(
      prog: CompiledProgram,
      state: FsmState,
      ctx: TrailCtx,
      binds: Bindings,
      emitter: Emitter,
      stats: RunStats = new RunStats,
      groupbyVars: Set[String] = Set.empty,
      fcalls: Map[String, Fcall] = Map.empty,
  ): Boolean = {
    var abort = false
    var mode = CONT
    var ri = state.ri
    var timestamp = 0L
    var item: TrailEvent = null

    if (ri == -1) return true // quit in a previous DB → stays aborted

    // Pre-resolve every param var once per run into index-aligned arrays —
    // the per-event hot loop does pure array access, no map lookups or
    // string allocation (the analog of the reference resolving param
    // value-ids once per DB, src/match_traildb.c:86-159).
    val nVars = prog.varNames.length
    val scalarByIdx = new Array[String](nVars)
    val setByIdx = new Array[Set[String]](nVars)
    val tsByIdx = new Array[Long](nVars)
    val gbByIdx = new Array[Boolean](nVars)
    var vi = 0
    while (vi < nVars) {
      val v = prog.varNames(vi)
      Ir.varType(v) match {
        case "scalar" =>
          val sv = binds.scalar(v)
          scalarByIdx(vi) = sv
          tsByIdx(vi) =
            if (sv != null && sv.trim.nonEmpty && sv.trim.forall(_.isDigit))
              java.lang.Long.parseLong(sv.trim)
            else -1L
        case "set" | "multiset" => setByIdx(vi) = binds.set(v)
        case _                  => ()
      }
      gbByIdx(vi) = groupbyVars.contains(v)
      vi += 1
    }

    def evalPred(p: Pred): Boolean = p match {
      case EqLit(slot, v) =>
        val ev = if (slot == -1) "" else item.fields(slot)
        ev == v
      case EqScalar(slot, vIdx, _) =>
        if (gbByIdx(vIdx)) stats.groupbyUsed = true
        val pv = scalarByIdx(vIdx)
        val ev = if (slot == -1) "" else item.fields(slot)
        pv != null && ev == pv
      case InSet(slot, vIdx, _) =>
        if (gbByIdx(vIdx)) stats.groupbyUsed = true
        val ps = setByIdx(vIdx)
        val ev = if (slot == -1) "" else item.fields(slot)
        ps != null && ps.contains(ev)
      case TsCmp(op, lit, vIdx, _) =>
        val rhs = if (vIdx == -1) lit
        else {
          if (gbByIdx(vIdx)) stats.groupbyUsed = true
          tsByIdx(vIdx)
        }
        // uint64 comparison semantics: the reference stores timestamps and
        // param values as uint64, so an unbound %scalar's -1 sentinel is
        // promoted to UINT64_MAX (`ts > %unbound` is always false,
        // `ts < %unbound` always true) — compareUnsigned reproduces that
        // (reference: src/fsm2c.py:135-153 with C unsigned promotion).
        val c = java.lang.Long.compareUnsigned(timestamp, rhs)
        op match {
          case "==" => c == 0
          case "<"  => c < 0
          case "<=" => c <= 0
          case ">"  => c > 0
          case ">=" => c >= 0
        }
    }

    def evalClause(c: CClause): Boolean = {
      var r = true
      var i = 0
      while (r && i < c.preds.length) { r = evalPred(c.preds(i)); i += 1 }
      if (c.negated) !r else r
    }

    def evalTerm(t: Ir.YieldTerm, currentRule: Int): String = t match {
      case Ir.FieldTerm("cookie") => ctx.cookiePadded
      case Ir.FieldTerm("timestamp") => java.lang.Long.toString(item.ts)
      case Ir.FieldTerm("cookie_timestamp_filter_start") => java.lang.Long.toString(ctx.filterStart)
      case Ir.FieldTerm("cookie_timestamp_filter_end")   => java.lang.Long.toString(ctx.filterEnd)
      case Ir.FieldTerm(f) =>
        val slot = prog.slot(f)
        if (slot == -1 || item.isEmpty) "" else item.fields(slot)
      case Ir.LiteralTerm(v) => v
      case Ir.ParamTerm(n) =>
        if (groupbyVars.contains(n)) stats.groupbyUsed = true
        Option(binds.scalar(n)).getOrElse("")
      case Ir.WindowRefTerm(None) =>
        val dur = prog.rules(currentRule).window.getOrElse(
          sys.error("Cannot yield window start timestamp when window is infinite"))
        java.lang.Long.toString(state.windowExpires - dur)
      case Ir.WindowRefTerm(Some(label)) =>
        val wid = prog.rules.indexWhere(_.name == label)
        require(wid >= 0, s"Rule not found: $label")
        val dur = prog.rules(wid).window.getOrElse(
          sys.error("Cannot yield window start timestamp when window is infinite"))
        val pos = prog.rules(currentRule).windowStack.indexOf(wid)
        require(pos >= 0, s"No enclosing window block named $label")
        java.lang.Long.toString(state.outerExpires(pos) - dur)
      case Ir.FcallTerm(name, args) =>
        val f = fcalls.getOrElse(name, sys.error(s"unknown external function: $name"))
        f(args.map(evalTerm(_, currentRule)))
    }

    def termType(t: Ir.YieldTerm): Byte = t match {
      case Ir.FieldTerm("cookie") => Tuple.TypeBytes
      case _                      => Tuple.TypeString
    }

    def runYields(c: CClause, currentRule: Int): Unit = {
      if (c.yields.nonEmpty) stats.resultUpdated = true
      var i = 0
      while (i < c.yields.length) {
        val y = c.yields(i)
        Ir.varType(y.dst) match {
          case "counter" => emitter.counter(Ir.stripType(y.dst))
          case kind =>
            val values = y.src.map(evalTerm(_, currentRule)).toArray
            val types = y.src.map(termType).toArray
            kind match {
              case "set"      => emitter.set(Ir.stripType(y.dst), values, types)
              case "multiset" => emitter.multiset(Ir.stripType(y.dst), values, types)
              case "hll"      => emitter.hll(Ir.stripType(y.dst), values, types)
              case other      => sys.error(s"bad yield dst ${y.dst} ($other)")
            }
        }
        i += 1
      }
    }

    /** reference: src/fsm2c.py:379-397 — truncate the outer stack to dst's
      * nesting depth when jumping.
      */
    def balance(dst: Int): Unit =
      if (prog.hasWindowRules && dst < prog.rules.length) {
        val idx = prog.rules(dst).windowStack.length
        state.outerIds(idx) = -1
        state.outerExpires(idx) = 0
      }

    /** Execute a matched clause's yields + action; sets mode/ri.
      * reference: src/fsm2c.py:400-433 compile_clause_action.
      */
    def runAction(c: CClause, actionRule: Int): Unit = {
      runYields(c, actionRule)
      c.action match {
        case Repeat =>
          ctx.advance()
          ri = actionRule; mode = LOOP
        case Break =>
          ctx.advance()
          balance(actionRule + 1)
          ri = actionRule + 1; mode = START
        case RestartFromHere(l) =>
          balance(l)
          ri = l; mode = START
        case RestartFromNext(l) =>
          ctx.advance()
          balance(l)
          ri = l; mode = START
        case Quit =>
          abort = true
          state.ri = -1
          mode = STOP
      }
    }

    // Guard against non-consuming restart cycles: a program whose
    // restart-from-here chain re-dispatches the same event forever (legal
    // to WRITE in the reference's grammar — the generated C would spin
    // identically) fails fast here instead of hanging the executor. At a
    // fixed trail position the interpreter's control state (mode, ri,
    // window expiry, outer-window stack) evolves DETERMINISTICALLY — item,
    // binds and clause predicates are all fixed — so a non-terminating
    // chain must revisit an exact state. Brent's cycle detection finds that
    // with O(1) memory and zero false positives: a legitimate long
    // after-yield sweep (e.g. `after -> restart-from-here` replayed across
    // a gap of many window durations, reference fsm2c.py enter_rule's
    // min(timestamp, window_expires)+d re-entry) strictly advances
    // windowExpires every pass and therefore never repeats a state, no
    // matter how many thousands of passes it makes.
    var stallPos = -2
    var cycPow = 1
    var cycLam = 0
    var snapMode = -1; var snapRi = -1; var snapWin = 0L
    val snapOuterIds: Array[Int] = new Array[Int](state.outerIds.length)
    val snapOuterExp: Array[Long] = new Array[Long](state.outerExpires.length)
    def cycleSnapshot(): Unit = {
      snapMode = mode; snapRi = ri; snapWin = state.windowExpires
      System.arraycopy(state.outerIds, 0, snapOuterIds, 0, snapOuterIds.length)
      System.arraycopy(state.outerExpires, 0, snapOuterExp, 0, snapOuterExp.length)
    }
    def cycleRepeats: Boolean =
      mode == snapMode && ri == snapRi && state.windowExpires == snapWin &&
        java.util.Arrays.equals(state.outerIds, snapOuterIds) &&
        java.util.Arrays.equals(state.outerExpires, snapOuterExp)

    while (mode != STOP) {
      // consuming fast path pays only the pos compare; the first repeat
      // iteration at a position arms the detector (snapMode == -1)
      if (ctx.pos == stallPos) {
        if (snapMode == -1) cycleSnapshot()
        else if (cycleRepeats)
          throw new IllegalStateException(
            s"FSM control state repeated without consuming an event " +
              s"(rule ${ri}, ts=$timestamp) — non-terminating restart cycle in the program")
        else {
          cycLam += 1
          if (cycLam == cycPow) { cycPow <<= 1; cycLam = 0; cycleSnapshot() }
        }
      } else { stallPos = ctx.pos; cycPow = 1; cycLam = 0; snapMode = -1 }
      mode match {
        case START =>
          val r = prog.rules(ri)
          if (r.isOuter) {
            // push a window block and fall through to the first inner rule
            // (reference: src/fsm2c.py:211-233 enter_rule, outer branch)
            var i = 0
            while (state.outerIds(i) != -1) i += 1
            state.outerIds(i) = ri
            if (i + 1 < state.outerIds.length) state.outerIds(i + 1) = -1
            state.outerExpires(i) = r.window match {
              case Some(d) =>
                if (state.windowExpires > 0) math.min(timestamp, state.windowExpires) + d
                else timestamp + d
              case None => ExpiresNever
            }
            ri += 1 // fall through; mode stays START
          } else {
            state.windowExpires = r.window match {
              case Some(d) =>
                if (state.windowExpires > 0) math.min(timestamp, state.windowExpires) + d
                else timestamp + d
              case None => ExpiresNever
            }
            mode = CONT
          }

        case CONT =>
          if (prog.rules(ri).isOuter) {
            // RULE_CONT of a window-block rule has no body in the generated
            // C — control falls through to the NEXT rule's RULE_START
            // without pushing the outer window (reference: compile_block
            // early return, src/fsm2c.py:617-619). This is how a fresh
            // state whose entrypoint is an outer rule starts inside the
            // first inner rule with no window on the stack.
            ri += 1
            mode = START
          } else {
            // RULE_CONT prelude (reference: src/fsm2c.py:620-627)
            state.ri = ri
            if (ri == 0 && prog.hasWindowRules) {
              state.outerIds(0) = -1
              state.outerExpires(0) = 0
            }
            if (ctx.endOfTrail) mode = STOP else mode = LOOP
          }

        case LOOP =>
          if (ctx.endOfTrail) mode = STOP
          else {
            val r = prog.rules(ri)
            item = ctx.current
            timestamp = item.ts
            val withinWindow = state.windowExpires == 0 || state.windowExpires > timestamp
            if (withinWindow && !item.isEmpty) {
              var ci = 0
              var matched = false
              while (!matched && ci < r.clauses.length) {
                val c = r.clauses(ci)
                if (evalClause(c)) { matched = true; runAction(c, ri) }
                else ci += 1
              }
              if (!matched) throw new NonExhaustiveException(r.name, timestamp)
            } else {
              if (item.isEmpty) ctx.advance()
              // expired outer windows, bottom of stack first
              // (reference: src/fsm2c.py:646-663)
              var handled = false
              var i = 0
              while (!handled && i < state.outerIds.length && state.outerIds(i) != -1) {
                val exp = state.outerExpires(i)
                val within2 = exp == 0 || exp > timestamp
                if (!within2) {
                  val outerId = state.outerIds(i)
                  state.outerIds(i) = -1
                  state.outerExpires(i) = 0
                  runAction(prog.rules(outerId).after, outerId)
                  handled = true
                } else i += 1
              }
              // own after action, without consuming (for restart-from-here)
              // (reference: src/fsm2c.py:664-665)
              if (!handled) runAction(r.after, ri)
              if (mode == LOOP && ctx.endOfTrail) mode = STOP
            }
          }
      }
    }
    abort
  }
}
