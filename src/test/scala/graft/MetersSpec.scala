package graft

import java.util.concurrent.CountDownLatch

/** Pins the harness instruments on this JVM and Spark build: a meter
  * that silently reads -1, 0 or backwards would corrupt every record
  * that carries it without failing any run.
  */
class MetersSpec extends SparkSpec {

  test("allocatedMb never decreases when an allocating thread exits") {
    val allocated = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    @volatile var sink: Array[Byte] = null
    val t = new Thread(() => {
      var i = 0
      while (i < 1024) { sink = new Array[Byte](1 << 16); i += 1 }
      allocated.countDown()
      release.await()
    })
    val before = Meters.allocatedMb()
    t.start()
    allocated.await()
    val alive = Meters.allocatedMb() // the thread's 64 MB is counted
    release.countDown()
    t.join()
    val after = Meters.allocatedMb() // ... and kept once it has exited
    alive - before should be >= 64.0
    after should be >= alive
  }

  test("codegenCompiles is non-negative and rises when a new plan compiles") {
    val c0 = Meters.codegenCompiles()
    c0 should be >= 0L
    // a literal no earlier plan used gives generated code no cached
    // class matches, so Janino must compile it
    val nonce = System.nanoTime() % 1000000007L
    spark.range(4).selectExpr(s"id * $nonce + 1 AS x").collect()
    Meters.codegenCompiles() should be > c0
  }

  test("hostSnapshot is a JSON object with loadavg, steal_jiffies and foreign_jvms") {
    val snap = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Meters.hostSnapshot())
    snap.isObject shouldBe true
    snap.get("loadavg").isNumber shouldBe true
    snap.get("steal_jiffies").isIntegralNumber shouldBe true
    snap.get("steal_jiffies").asLong should be >= -1L
    snap.get("foreign_jvms").asLong should be >= 0L
  }
}
