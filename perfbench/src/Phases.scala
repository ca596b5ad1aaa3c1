package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

/** Latencies of one kind of query in the timed phase, in nanoseconds.
  * `ranked` and `bm25` hold every sample; `rankedBest` and `bm25Best`
  * hold one value per distinct query: its fastest repetition. `busyS` is
  * the time the client spent on this kind. */
final case class PhaseOut(ranked: Array[Long], bm25: Array[Long], rankedBest: Array[Long],
    bm25Best: Array[Long], busyS: Double) {
  def ops: Int = ranked.length + bm25.length
  def qps: Double = ops / busyS
}

object Stats {
  def p50(xs: Array[Long]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2).toDouble
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2.0
  }

  /** The highest percentile with at least 10 samples beyond it. */
  def tail(xs: Array[Long]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN else s(math.max(0, s.length - 11)).toDouble
  }

  def ms(ns: Double): Double = ns / 1e6
}

/** Samples of one kind of query (cold or hot), with the Spark and JVM
  * counters spent on it. Query `k` is `ops(k)`; `best(k)` is its fastest
  * time so far. */
private final class Tally(run: Run) {
  private val ops = mutable.ArrayBuffer.empty[Op]
  private val best = mutable.ArrayBuffer.empty[Long]
  private val ranked = mutable.ArrayBuilder.make[Long]
  private val bm25 = mutable.ArrayBuilder.make[Long]
  private var spent = Counters.zero
  private var alloc = 0L
  private var busyNs = 0L
  private var attempts = 0L

  def add(k: Int, ns: Long): Unit = {
    ops(k) match { case _: Ranked => ranked += ns; case _ => bm25 += ns }
    best(k) = math.min(best(k), ns)
  }

  def register(op: Op): Int = { ops += op; best += Long.MaxValue; ops.length - 1 }

  /** Run `f` (making `n` attempts) and charge its time and counters here;
    * returns its wall time in ns. */
  def measure(n: => Long)(f: => Unit): Long = {
    val before = run.counters()
    val a0 = Jvm.threadAllocated()
    val t0 = System.nanoTime()
    f
    val ns = System.nanoTime() - t0
    busyNs += ns
    alloc += Jvm.threadAllocated() - a0
    spent = spent + (run.counters() - before)
    attempts += n
    ns
  }

  def out(phase: String): PhaseOut = {
    run.phaseCounters(phase, spent, alloc, attempts)
    val answered = best.indices.filter(best(_) < Long.MaxValue)
    val (r, b) = answered.partition(k => ops(k).isInstanceOf[Ranked])
    PhaseOut(ranked.result(), bm25.result(), r.map(best).toArray, b.map(best).toArray, busyNs / 1e9)
  }
}

/** The timed phase shared by both workloads. */
object Phases {
  /** Answers are checked by `check`, outside the timed work. */
  type Check = (Op, Answer) => Unit

  private def attempt(run: Run, eng: Engine, op: Op, phase: String): Option[Answer] = {
    run.ledger.attempt()
    try Some(eng.run(op, phase))
    catch { case NonFatal(e) => run.ledger.error(op.label, e); None }
  }

  /** Run untimed, one at a time, with `quiesce` after each; checked. */
  def untimed(run: Run, eng: Engine, ops: Seq[Op], check: Check): Seq[Option[Answer]] =
    ops.map { op =>
      val a = attempt(run, eng, op, "warmup")
      eng.index.quiesce()
      a.foreach(check(op, _))
      a
    }

  private def same(a: Answer, b: Answer): Boolean = (a, b) match {
    case (RankedAnswer(x), RankedAnswer(y)) => x == y
    case (x: Bm25Answer, y: Bm25Answer) =>
      x.ids == y.ids && x.hits.zip(y.hits).forall { case (p, q) =>
        math.abs(p._2 - q._2) <= Checks.RelTol * math.max(math.abs(p._2), math.abs(q._2))
      }
    case _ => false
  }

  /** Untimed hot-set load for `seconds`, so that the JIT has compiled the
    * in-process ranking path before it is timed. */
  def warmHot(run: Run, eng: Engine, hot: IndexedSeq[Op], order: Array[Int], seconds: Double): Unit = {
    val end = System.nanoTime() + (seconds * 1e9).toLong
    var i = 0
    while (System.nanoTime() < end) {
      attempt(run, eng, hot(order(i % order.length)), "warmup")
      i += 1
    }
  }

  /** The timed hot phase: one client in a closed loop, `seconds` long,
    * cycling through the hot set in `order`. Every answer must equal its
    * checked reference in `refs`. Each query runs many times; its time is
    * its fastest run, which a stretch of background work (GC, the JIT, a
    * busy neighbour on a shared host) does not set. */
  def hot(run: Run, eng: Engine, hot: IndexedSeq[Op], refs: Array[Option[Answer]],
      order: Array[Int], seconds: Double): PhaseOut = {
    val t = new Tally(run)
    hot.foreach(t.register)
    var i = 0
    t.measure(i) {
      val end = System.nanoTime() + (seconds * 1e9).toLong
      while (System.nanoTime() < end) {
        val k = order(i % order.length)
        val t0 = System.nanoTime()
        attempt(run, eng, hot(k), "hot").foreach { a =>
          t.add(k, System.nanoTime() - t0)
          if (refs(k).exists(r => !same(a, r)))
            run.ledger.check(hot(k).label)(Some("answer differs from the reference pass"))
        }
        i += 1
      }
    }
    t.out("hot")
  }

  /** The timed cold phase: one client, `seconds` long; each query is a
    * first touch of words no other query uses, followed by an untimed
    * `quiesce` so that its background fills do not land in the next
    * query's time. Returns the latencies and the answered queries. */
  def cold(run: Run, eng: Engine, ops: Iterator[Op], seconds: Double,
      check: Check): (PhaseOut, IndexedSeq[(Op, Answer)]) = {
    val t = new Tally(run)
    val answers = mutable.ArrayBuffer.empty[(Op, Answer)]
    val end = System.nanoTime() + (seconds * 1e9).toLong
    while (System.nanoTime() < end && ops.hasNext) {
      val op = ops.next()
      val k = t.register(op)
      t.measure(1) {
        val t0 = System.nanoTime()
        attempt(run, eng, op, "cold").foreach { a =>
          t.add(k, System.nanoTime() - t0)
          answers += (op -> a)
        }
      }
      eng.index.quiesce()
    }
    answers.foreach { case (op, a) => check(op, a) }
    (t.out("cold"), answers.toIndexedSeq)
  }
}
