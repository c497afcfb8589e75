package graft

import org.scalatest.{BeforeAndAfterAll, Suite}

/** For suites that call an operator which leaves a conf on the shared
  * spec session (the 16 KB coalescing floor that `LshJoin` and
  * `DedupOps` set for their own stages): `afterAll` resets the session
  * with [[SparkEntry.resetSessionConfs]], so no later suite runs at a
  * leaked conf whatever the suite order. */
trait ResetsSessionConfs extends BeforeAndAfterAll { this: Suite =>
  override protected def afterAll(): Unit =
    try SparkEntry.resetSessionConfs(SparkTestSession.spark)
    finally super.afterAll()
}
