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
  * reads, renames). One runner runs once. */
private[index] final class DagRunner {
  private val steps = mutable.LinkedHashMap.empty[String, (Seq[String], () => Unit)]

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
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val firstFailure = new AtomicReference[Throwable]()
    val done = mutable.Map.empty[String, Future[Unit]]
    try {
      for ((name, (deps, body)) <- steps) {
        val p = Promise[Unit]()
        Future.sequence(deps.map(done)).onComplete {
          case Success(_) if firstFailure.get == null =>
            try { body(); p.success(()) }
            catch { case e: Throwable =>
              firstFailure.compareAndSet(null, e)
              p.failure(e)
            }
          case _ => p.failure(new java.util.concurrent.CancellationException(name))
        }
        done(name) = p.future
      }
      done.values.foreach(Await.ready(_, Duration.Inf))
    } finally pool.shutdown()
    Option(firstFailure.get).foreach(e => throw e)
  }
}

private[index] object DagRunner {
  /** The result of a [[DagRunner.value]] step, named after it. */
  final class Value[A](val step: String) {
    @volatile private var result: Option[A] = None
    private[DagRunner] def set(a: A): Unit = result = Some(a)
    /** The step's result; throws before the step has run. */
    def get: A = result.getOrElse(
      throw new IllegalStateException(s"step $step has not run"))
  }
}
