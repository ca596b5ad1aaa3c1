package graft.index

import java.util.concurrent.atomic.AtomicReference

import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future, Promise}
import scala.concurrent.duration.Duration
import scala.util.Success

/** Runs named steps as a dependency DAG on a fixed thread pool: a step
  * starts the moment every step it names has finished, so wall time is the
  * critical path while independent steps (each one or more Spark jobs)
  * share the executor slots. The build, `addDocuments` and `hardDelete`
  * run their table commits on it.
  *
  * Registering only records a step, so a caller whose registration throws
  * has started nothing. In [[run]], a failed step's dependents never start
  * and no step starts after the first failure, but [[run]] waits for every
  * running step before it rethrows, so a caller's cleanup never deletes
  * files under a step that is still writing. 8 threads keep a local
  * executor's cores fed while a few steps sit in driver-side work (footer
  * reads, renames). One runner runs once; afterwards [[timeline]] tells
  * when each step became ready, started and ended. */
private[index] final class DagRunner {
  private val steps = mutable.LinkedHashMap.empty[String, (Seq[String], () => Unit)]
  private val times = new java.util.concurrent.ConcurrentHashMap[String, DagRunner.StepTime]()

  /** Register step `name`, to run once every step in `deps` (each
    * registered earlier) has succeeded. */
  def step(name: String, deps: Seq[String] = Nil)(body: => Unit): Unit = {
    require(!steps.contains(name), s"step $name registered twice")
    deps.foreach(d => require(steps.contains(d), s"step $name: unknown dependency $d"))
    steps(name) = (deps, () => body)
  }

  /** Register step `name` computing a value: steps that depend on `name`
    * read it with [[DagRunner.Value.get]]. */
  def value[A](name: String, deps: Seq[String] = Nil)(body: => A): DagRunner.Value[A] = {
    val v = new DagRunner.Value[A](name)
    step(name, deps)(v.set(body))
    v
  }

  /** An empty step that finishes once every step registered so far has. */
  def barrier(name: String): Unit = step(name, steps.keys.toSeq)(())

  /** Run every registered step, wait for each to finish or be skipped,
    * then rethrow the first step failure, if any. */
  def run(): Unit = {
    // daemon threads: a failed run must never keep the JVM alive
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8,
      (r: Runnable) => { val t = new Thread(r); t.setDaemon(true); t })
    // dependency bookkeeping runs on the completing thread, so a step is
    // ready the moment its last dependency ends, even with the pool full
    implicit val ec: ExecutionContext = ExecutionContext.parasitic
    val firstFailure = new AtomicReference[Throwable]()
    val done = mutable.Map.empty[String, Future[Unit]]
    val t0 = System.nanoTime()
    def since(t: Long): Double = (t - t0) / 1e9
    try {
      for ((name, (deps, body)) <- steps) {
        val p = Promise[Unit]()
        def cancel() = p.failure(new java.util.concurrent.CancellationException(name))
        Future.sequence(deps.map(done)).onComplete {
          case Success(_) if firstFailure.get == null =>
            val ready = System.nanoTime()
            pool.execute { () =>
              if (firstFailure.get != null) cancel()
              else {
                val start = System.nanoTime()
                def record() = times.put(name, DagRunner.StepTime(name, deps,
                  since(ready), since(start), since(System.nanoTime())))
                try { body(); record(); p.success(()) }
                catch { case e: Throwable =>
                  record()
                  firstFailure.compareAndSet(null, e)
                  p.failure(e)
                }
              }
            }
          case _ => cancel()
        }
        done(name) = p.future
      }
      done.values.foreach(Await.ready(_, Duration.Inf))
    } finally pool.shutdown()
    Option(firstFailure.get).foreach(e => throw e)
  }

  /** Each step that ran, in registration order, timed from the start of
    * [[run]]. */
  def timeline: Seq[DagRunner.StepTime] = steps.keys.toSeq.flatMap(n => Option(times.get(n)))
}

private[index] object DagRunner {
  /** When step `name` became ready (its last dependency ended), started on
    * a pool thread and ended, in seconds from the start of the run. */
  final case class StepTime(name: String, deps: Seq[String],
      readyS: Double, startS: Double, endS: Double)

  /** The result of a [[DagRunner.value]] step, named after it. */
  final class Value[A](val step: String) {
    @volatile private var result: Option[A] = None
    private[DagRunner] def set(a: A): Unit = result = Some(a)
    /** The step's result; throws before the step has run. */
    def get: A = result.getOrElse(
      throw new IllegalStateException(s"step $step has not run"))
  }
}
