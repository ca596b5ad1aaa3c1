package graft.index

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** The step runner behind the build, `addDocuments` and `hardDelete`:
  * dependency order, and a failure that neither starts dependents nor
  * returns before the steps already running have finished. No Spark. */
class DagRunnerSpec extends AnyFunSuite with Matchers {

  test("a step starts only after every dependency finished") {
    val dag = new DagRunner
    val order = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    dag.step("a") { Thread.sleep(50); order.add("a") }
    dag.step("b") { order.add("b") }
    dag.step("c", Seq("a", "b")) { order.add("c") }
    dag.step("d", Seq("c")) { order.add("d") }
    dag.run()
    val seen = order.toArray.toSeq
    seen.toSet shouldBe Set("a", "b", "c", "d")
    seen.indexOf("c") should be > seen.indexOf("a")
    seen.indexOf("c") should be > seen.indexOf("b")
    seen.last shouldBe "d"
  }

  test("the timeline holds every step, each started no earlier than " +
      "each of its dependencies ended") {
    val dag = new DagRunner
    dag.step("a") { Thread.sleep(30) }
    dag.step("b") { Thread.sleep(10) }
    dag.step("c", Seq("a", "b")) { Thread.sleep(10) }
    dag.barrier("all")
    dag.step("d", Seq("all")) { () }
    dag.run()
    val steps = dag.timeline
    steps.map(_.name) shouldBe Seq("a", "b", "c", "all", "d")
    val byName = steps.map(t => t.name -> t).toMap
    steps.foreach { t =>
      t.readyS should be <= t.startS
      t.startS should be <= t.endS
      t.deps.foreach(d => withClue(s"${t.name} after $d: ") {
        t.readyS should be >= byName(d).endS
      })
    }
    byName("c").deps shouldBe Seq("a", "b")
    byName("a").endS - byName("a").startS should be >= 0.03
  }

  test("a value step's result reaches the steps that depend on it") {
    val dag = new DagRunner
    val words = dag.value("words") { Thread.sleep(50); Seq("a", "b") }
    an[IllegalStateException] should be thrownBy words.get
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Seq[String]]()
    dag.step("use", Seq(words.step)) { seen.add(words.get) }
    dag.run()
    seen.toArray.toSeq shouldBe Seq(Seq("a", "b"))
  }

  test("a failing step: dependents never start, running steps finish " +
      "before the step's own exception is rethrown") {
    val dag = new DagRunner
    val boom = new IllegalStateException("boom")
    val slowStarted = new CountDownLatch(1)
    val failing = new CountDownLatch(1)
    val slowFinished = new AtomicBoolean(false)
    val dependentRan = new AtomicInteger(0)
    dag.step("slow") {
      slowStarted.countDown()
      failing.await(10, TimeUnit.SECONDS)
      // still running well after the failure was raised
      Thread.sleep(300)
      slowFinished.set(true)
    }
    dag.step("bad") {
      slowStarted.await(10, TimeUnit.SECONDS)
      failing.countDown()
      throw boom
    }
    dag.step("child", Seq("bad")) { dependentRan.incrementAndGet() }
    dag.step("grandchild", Seq("child")) { dependentRan.incrementAndGet() }
    val thrown = intercept[IllegalStateException](dag.run())
    thrown should be theSameInstanceAs boom
    slowFinished.get shouldBe true
    dependentRan.get shouldBe 0
  }

  test("a rejected registration has started nothing") {
    val dag = new DagRunner
    val ran = new AtomicInteger(0)
    dag.step("a") { ran.incrementAndGet() }
    an[IllegalArgumentException] should be thrownBy dag.step("x", Seq("nope"))(())
    an[IllegalArgumentException] should be thrownBy dag.step("a")(())
    ran.get shouldBe 0
    dag.run()
    ran.get shouldBe 1
  }

  test("a barrier waits for every earlier step; a failure before it " +
      "stops everything after it") {
    val dag = new DagRunner
    val after = new AtomicInteger(0)
    val slowFinished = new AtomicBoolean(false)
    dag.step("slow") { Thread.sleep(200); slowFinished.set(true) }
    dag.step("bad") { throw new IllegalStateException("bad") }
    dag.barrier("all")
    dag.step("next", Seq("all")) { after.incrementAndGet() }
    an[IllegalStateException] should be thrownBy dag.run()
    slowFinished.get shouldBe true
    after.get shouldBe 0

    val ok = new DagRunner
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    ok.step("a") { Thread.sleep(100); seen.add("a") }
    ok.step("b") { seen.add("b") }
    ok.barrier("all")
    ok.step("c", Seq("all")) { seen.add("c") }
    ok.run()
    seen.toArray.toSeq.last shouldBe "c"
  }
}
