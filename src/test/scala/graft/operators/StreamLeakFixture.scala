package graft.operators

import scala.jdk.CollectionConverters._

import org.scalatest.{Failed, Outcome, TestSuite, TestSuiteMixin}

/** After each test, with the child pool drained, nothing a stream left
  * behind may still be alive (within 5 s): no Arrow memory under the
  * shared allocator root, no descendant process, no child watchdog
  * thread, and no exchange writer inside a pipe write. A test that
  * passed but left any of these behind fails.
  */
trait StreamLeakFixture extends TestSuiteMixin { this: TestSuite =>

  abstract override def withFixture(test: NoArgTest): Outcome = {
    val outcome = super.withFixture(test)
    ChildProcessPool.drain()
    val deadline = System.nanoTime() + 5000000000L
    var left = leftBehind()
    while (left.nonEmpty && System.nanoTime() < deadline) {
      Thread.sleep(50)
      left = leftBehind()
    }
    if (outcome.isSucceeded && left.nonEmpty)
      Failed(s"left behind after the test: ${left.mkString("; ")}")
    else outcome
  }

  private def leftBehind(): Seq[String] = {
    val bytes = ArrowProtocol.rootAllocator.getAllocatedMemory
    val kids = ProcessHandle.current().descendants().iterator().asScala
      .filter(_.isAlive).map(p => p.info().commandLine().orElse(s"pid ${p.pid()}")).toSeq
    val threads = Thread.getAllStackTraces.asScala.toSeq.filter(_._1.isAlive)
    val watchdogs = threads.map(_._1.getName).filter(_.startsWith("graft-child-watchdog-"))
    val writing = threads.collect {
      case (t, stack) if t.getName.startsWith(ChildProcess.WriterThreadPrefix) &&
          stack.exists(_.getClassName == classOf[PipeOut].getName) => t.getName
    }
    Seq(
      Option.when(bytes > 0)(s"$bytes Arrow bytes under the shared root"),
      Option.when(kids.nonEmpty)(s"child processes ${kids.mkString(", ")}"),
      Option.when(watchdogs.nonEmpty)(s"watchdog threads ${watchdogs.mkString(", ")}"),
      Option.when(writing.nonEmpty)(s"writers inside a pipe write ${writing.mkString(", ")}")
    ).flatten
  }
}
