package graft

import graft.analyzers.FileSystemStateStore
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.{AtomicLong, AtomicReference}
import scala.util.control.NonFatal

/** FileSystemStateStore on local disk: a replace is atomic for a concurrent reader,
  * and a state file carries its own CRC-32.
  */
class StateStoreSpec extends SparkSpec {

  private def fields(i: Int) = Map("v" -> i.toString, "pad" -> ("x" * 2048 + i))

  test("state replace is atomic: a concurrent load never misses, tears or throws") {
    val store = new FileSystemStateStore(tmpDir("graft-states-atomic"), spark)
    store.save("mean.x", "p", fields(0))
    val saves = 1000
    @volatile var done = false
    val loads, missing, thrown, torn = new AtomicLong
    val firstError = new AtomicReference[Throwable]
    val reader = new Thread(() =>
      while (!done) {
        loads.incrementAndGet()
        try store.load("mean.x", "p") match {
          case None => missing.incrementAndGet()
          case Some(f) => if (f != fields(f("v").toInt)) torn.incrementAndGet()
        } catch { case NonFatal(e) => thrown.incrementAndGet(); firstError.compareAndSet(null, e) }
      })
    reader.start()
    while (loads.get < 100) Thread.sleep(1) // the reader is looping before the first replace
    try (1 to saves).foreach(i => store.save("mean.x", "p", fields(i)))
    finally { done = true; reader.join() }
    info(s"${loads.get} loads during $saves saves")
    assert(loads.get > 0)
    assert(missing.get == 0 && thrown.get == 0 && torn.get == 0,
      s"of ${loads.get} loads: ${missing.get} None, ${torn.get} torn, ${thrown.get} threw " +
        s"(first: ${firstError.get})")
    assert(store.load("mean.x", "p").contains(fields(saves)))
  }

  test("state file CRC: a flipped byte fails the load, legacy files still load") {
    val dir = tmpDir("graft-states-crc")
    val store = new FileSystemStateStore(dir, spark)
    store.save("mean.x", "p", Map("sum" -> "12.5", "count" -> "10"))
    val file = Paths.get(dir, "mean.x", "p.state")
    val bytes = Files.readAllBytes(file)
    bytes(bytes.length - 2) = (bytes(bytes.length - 2) ^ 1).toByte
    Files.write(file, bytes)
    intercept[org.apache.hadoop.fs.ChecksumException](store.load("mean.x", "p"))
    // a state written before the CRC line existed, with the .crc sidecar Hadoop's
    // checksummed local writer leaves next to it
    val local = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    val legacy = new org.apache.hadoop.fs.Path(s"$dir/mean.x/q.state")
    val out = local.create(legacy, true)
    try out.write("count\t10\nsum\t12.5".getBytes(StandardCharsets.UTF_8)) finally out.close()
    assert(Files.exists(Paths.get(dir, "mean.x", ".q.state.crc")))
    assert(store.load("mean.x", "q").contains(Map("sum" -> "12.5", "count" -> "10")))
    // replacing it drops the stale sidecar, which would otherwise fail every later load
    store.save("mean.x", "q", Map("sum" -> "1.0", "count" -> "1"))
    assert(!Files.exists(Paths.get(dir, "mean.x", ".q.state.crc")))
    assert(store.load("mean.x", "q").contains(Map("sum" -> "1.0", "count" -> "1")))
    assert(store.listPartitions("mean.x") == Seq("p", "q"))
  }
}
