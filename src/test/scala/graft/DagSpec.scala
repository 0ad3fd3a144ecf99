package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}

import graft.pipeline.Dag
import org.scalatest.funsuite.AnyFunSuite

/** `Dag.run` is a ready queue: a node starts once its own deps have
  * resolved, not once every node of an earlier level has. */
class DagSpec extends AnyFunSuite {

  test("a ready node starts while an unrelated node of an earlier level still runs") {
    // `slow` (level 0) holds its thread until `next` (level 1, after
    // `fast`) has started; level barriers would make `next` wait for
    // `slow`, and `slow` would time out
    val nextStarted = new CountDownLatch(1)
    @volatile var overlapped = false
    val nodes = Seq(
      Dag.Node("slow", Nil, () => { overlapped = nextStarted.await(60, TimeUnit.SECONDS) }),
      Dag.Node("fast", Nil, () => ()),
      Dag.Node("next", Seq("fast"), () => nextStarted.countDown()))
    val status = Dag.run(nodes, levelParallelism = 2)
    assert(status.values.forall(_ == Dag.Succeeded), status)
    assert(overlapped, "next waited for slow, an unrelated node of an earlier level")
  }
}
