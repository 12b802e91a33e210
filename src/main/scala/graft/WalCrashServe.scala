package graft

/** Child-JVM half of StateStoreSpec's kill/restart durability test:
  * starts the write façade with a WAL-backed store on an ephemeral
  * port, prints `WAL_READY port=<p>`, and serves until killed. The
  * SPEC is the client AND the executioner — it POSTs writes over real
  * HTTP, waits for the 2xx acknowledgments, SIGKILLs this process
  * (destroyForcibly: no shutdown hooks, no buffered-writer flushes —
  * the only durability left is what [[WriteAheadLog.commitOps]]
  * fsynced before each acknowledgment), then replays the WAL in its
  * own JVM
  * and asserts every acknowledged write is present.
  *
  * Usage: runMain graft.WalCrashServe <sfDir> <walPath>
  */
object WalCrashServe {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, walPath) = args
    val spark = Sessions.builder(4).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val (server, _) = RestServe.startWithStore(spark, sfDir, 0,
      walPath = Some(walPath))
    println(s"WAL_READY port=${server.getAddress.getPort}")
    Console.out.flush()
    Thread.currentThread().join() // serve until SIGKILLed by the spec
  }
}
