package graft.etl

import graft.model.TpchModel
import org.scalatest.funsuite.AnyFunSuite
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import scala.jdk.CollectionConverters._

/** Gated per-table scheduling semantics (etl.py:82-175 analogue). */
class EtlRunnerSpec extends AnyFunSuite {
  private val m = TpchModel.model

  test("tables inside one level genuinely run in parallel") {
    // customer and supplier share a level; each waits for the other to have
    // started — only possible if the runner executes them concurrently
    val latch = new CountDownLatch(2)
    val out = EtlRunner(m, maxParallelTables = 4).runFlowPipelined(m.tables)(
      prepareTable = (t, _) => {
        if (t == "customer" || t == "supplier") {
          latch.countDown()
          assert(latch.await(10, TimeUnit.SECONDS), s"$t never saw its level peer start")
        }
        Some(() => s"done-$t")
      })
    assert(out.keySet == m.tables.toSet)
    assert(out("lineitem") == "done-lineitem")
  }

  test("onlyTables restricts work to the named tables, in name order") {
    val order = new java.util.concurrent.CopyOnWriteArrayList[String]()
    EtlRunner(m).runFlowPipelined(m.tables, EtlFlags(onlyTables = Some(Set("orders", "nation"))))(
      prepareTable = (t, _) => { order.add(t); Some(() => t) })
    assert(order.asScala.toSeq == Seq("nation", "orders"))
  }

  test("a failing table aborts the run") {
    intercept[RuntimeException] {
      EtlRunner(m).runFlowPipelined(m.tables)(prepareTable = (t, _) => {
        if (t == "nation") throw new RuntimeException("boom")
        Some(() => t)
      })
    }
  }

  test("--only-query runs just the named queries' tables, each with its event step") {
    val events = new java.util.concurrent.CopyOnWriteArrayList[String]()
    val flags = EtlFlags(onlyQueries = Some(Seq(
      "orders/load_a.sql", "orders/load_b.sql", "nation/load.sql")))
    val out = EtlRunner(m).runFlowPipelined(m.tables, flags)(
      prepareTable = (t, qs) => Some(() => qs.sorted.mkString("+")),
      eventStep = events.add(_))
    assert(out == Map(
      "nation" -> "nation/load.sql",
      "orders" -> "orders/load_a.sql+orders/load_b.sql"))
    assert(events.toArray.toSet == Set("nation", "orders"))
  }

  test("pipelined: restricted --only-query path stays sequential with event steps") {
    val events = new java.util.concurrent.CopyOnWriteArrayList[String]()
    val steps = new java.util.concurrent.CopyOnWriteArrayList[String]()
    val flags = EtlFlags(onlyQueries = Some(Seq(
      "orders/load_a.sql", "orders/load_b.sql", "nation/load.sql")))
    val out = EtlRunner(m, maxParallelTables = 4).runFlowPipelined(m.tables, flags)(
      prepareTable = (t, qs) => {
        steps.add(s"prepare-$t")
        Some(() => { steps.add(s"finalize-$t"); qs.sorted.mkString("+") })
      },
      eventStep = t => { steps.add(s"event-$t"); events.add(t); () })
    assert(out == Map(
      "nation" -> "nation/load.sql",
      "orders" -> "orders/load_a.sql+orders/load_b.sql"))
    assert(events.toArray.toSet == Set("nation", "orders"))
    // one table at a time, in name order, each followed by its own event step
    assert(steps.asScala.toSeq == Seq(
      "prepare-nation", "finalize-nation", "event-nation",
      "prepare-orders", "finalize-orders", "event-orders"))
  }

  test("--skip-event-fks-step suppresses the event step in every mode") {
    val events = new java.util.concurrent.CopyOnWriteArrayList[String]()
    for (flags <- Seq(
        EtlFlags(onlyTables = Some(Set("region"))),
        EtlFlags(onlyQueries = Some(Seq("region/q.sql"))),
        EtlFlags()))
      EtlRunner(m).runFlowPipelined(m.tables, flags.copy(skipEventFksStep = true))(
        prepareTable = (t, _) => Some(() => t),
        eventStep = events.add(_))
    assert(events.isEmpty)
  }

  test("--process-semi-approved-mappings widens the accepted usagi statuses") {
    assert(EtlFlags().approvedStatuses === Seq("APPROVED"))
    assert(EtlFlags(processSemiApprovedMappings = true).approvedStatuses
      === Seq("APPROVED", "SEMI-APPROVED"))
  }

  test("pipelined: prepares run barrier-free, finalize gates on own+parent prepares") {
    val prepDone = new ConcurrentHashMap[String, Long]()
    val finStart = new ConcurrentHashMap[String, Long]()
    // region (level 0) blocks until lineitem (deepest level) has PREPARED —
    // impossible under a level barrier, required here
    val lineitemPrepared = new CountDownLatch(1)
    val out = EtlRunner(m).runFlowPipelined(m.tables)(
      prepareTable = (t, _) => {
        if (t == "lineitem") lineitemPrepared.countDown()
        if (t == "region")
          assert(lineitemPrepared.await(10, TimeUnit.SECONDS),
            "barrier-free prepares: lineitem's prepare never ran while region's was blocked")
        prepDone.put(t, System.nanoTime())
        Some(() => { finStart.put(t, System.nanoTime()); s"done-$t" })
      })
    assert(out.keySet == m.tables.toSet)
    for (t <- m.tables; (_, dep) <- m.fks(t) if dep != t)
      assert(prepDone.get(dep) < finStart.get(t),
        s"$t finalized before its parent $dep prepared")
  }

  test("pipelined: skipped tables absent; cleanup on full flow only; events after finalizes") {
    val finalized = new ConcurrentHashMap[String, Boolean]()
    val events = new java.util.concurrent.CopyOnWriteArrayList[String]()
    var cleanups = 0
    val runner = EtlRunner(m)
    val out = runner.runFlowPipelined(m.tables)(
      prepareTable = (t, _) =>
        if (t == "part") None
        else Some(() => { finalized.put(t, true); t }),
      eventStep = t => {
        assert(finalized.keySet().size == m.tables.size - 1,
          s"event step for $t ran before all finalizes drained")
        events.add(t); ()
      },
      postEtlCleanup = () => cleanups += 1)
    assert(!out.contains("part") && out.size == m.tables.size - 1)
    assert(cleanups == 1)
    assert(events.toArray.toSet == m.tables.toSet)
    runner.runFlowPipelined(m.tables, EtlFlags(onlyTables = Some(Set("region"))))(
      prepareTable = (t, _) => Some(() => t),
      postEtlCleanup = () => cleanups += 1)
    assert(cleanups == 1)
  }

  test("post-etl cleanup runs only on a FULL etl (etl.py:126-129)") {
    var cleanups = 0
    val runner = EtlRunner(m)
    def run(flags: EtlFlags): Unit = {
      runner.runFlowPipelined(m.tables, flags)(
        (t, _) => Some(() => t), postEtlCleanup = () => cleanups += 1)
      ()
    }
    run(EtlFlags())
    assert(cleanups == 1)
    run(EtlFlags(onlyTables = Some(Set("region"))))
    run(EtlFlags(onlyQueries = Some(Seq("region/q.sql"))))
    assert(cleanups == 1)
  }

  test("a one-thread pool runs the full flow without starving") {
    var cleanups = 0
    val out = EtlRunner(m, maxParallelTables = 1).runFlowPipelined(m.tables)(
      prepareTable = (t, _) => Some(() => t),
      postEtlCleanup = () => cleanups += 1)
    assert(out == m.tables.map(t => t -> t).toMap)
    assert(cleanups == 1)
  }

  /** Run the full flow with one injected failure while sibling steps are
    * still running, then check that the failure escaped only after every
    * step had settled: no step finishes after the exception is caught.
    * `work` is a step that stamps its finish after `WorkMs`.
    */
  private val WorkMs = 300L
  private def assertSettles(run: (() => Unit) => Unit): Unit = {
    val finished = new ConcurrentLinkedQueue[Long]()
    val e = intercept[IllegalStateException] {
      run(() => { Thread.sleep(WorkMs); finished.add(System.nanoTime()); () })
    }
    val caught = System.nanoTime()
    assert(e.getMessage == "injected")
    Thread.sleep(2 * WorkMs) // a leaked sibling would finish in this window
    assert(finished.asScala.forall(_ < caught), "a step finished after the failure escaped")
  }

  // each failing table goes FIRST in the universe: a runner that awaits
  // tables in order and rethrows at the first failure would return while
  // the other finalizes still run
  private def first(t: String): Seq[String] = t +: m.tables.filterNot(_ == t)

  test("a failing prepare escapes only after every running step finished") {
    val finalizing = new CountDownLatch(1)
    assertSettles { work =>
      EtlRunner(m).runFlowPipelined(first("lineitem"))(prepareTable = (t, _) => {
        if (t == "lineitem") {
          assert(finalizing.await(10, TimeUnit.SECONDS))
          throw new IllegalStateException("injected")
        }
        Some(() => { finalizing.countDown(); work() })
      })
      ()
    }
  }

  test("a failing finalize escapes only after every running step finished") {
    val finalizing = new CountDownLatch(1)
    assertSettles { work =>
      EtlRunner(m).runFlowPipelined(first("part"))(prepareTable = (t, _) => Some(() =>
        if (t == "part") {
          assert(finalizing.await(10, TimeUnit.SECONDS))
          throw new IllegalStateException("injected")
        } else { finalizing.countDown(); work() }))
      ()
    }
  }

  test("a failing cleanup escapes only after every running step finished, and no event step starts") {
    val events = new ConcurrentLinkedQueue[String]()
    assertSettles { work =>
      EtlRunner(m).runFlowPipelined(m.tables)(
        prepareTable = (_, _) => Some(work),
        eventStep = events.add(_),
        postEtlCleanup = () => throw new IllegalStateException("injected"))
      ()
    }
    assert(events.isEmpty)
  }
}
