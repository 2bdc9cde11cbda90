package graft.io

/** One-time-per-process lake layout: a per-(process, key) temp path
  * whose write runs exactly once, with shutdown-hook cleanup. Shared
  * by `Bucketing`, `PartitionedLake`, and `Compaction` so the
  * failure/concurrency semantics live in one place:
  *   - the key is recorded only AFTER the write succeeds, so a failed
  *     write is retried on the next call instead of poisoning the
  *     process with a half-written path;
  *   - the write runs inside the registry lock, so a concurrent
  *     caller blocks until the layout is complete rather than
  *     reading a partial lake.
  */
object LayoutOnce {

  private val laidOut = scala.collection.mutable.HashSet[String]()

  /** Deletes `f` and, if it is a directory, everything under it. */
  def rm(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rm))
    f.delete(); ()
  }

  /** Returns the per-(process, key) base dir, running `write(base)`
    * the first time this process asks for it.
    */
  def ensure(prefix: String, key: String)(
      write: java.io.File => Unit): java.io.File = {
    val h = math.abs(key.hashCode.toLong)
    val base = new java.io.File(
      sys.props("java.io.tmpdir"),
      s"$prefix-${ProcessHandle.current().pid()}-$h")
    laidOut.synchronized {
      if (!laidOut.contains(base.getAbsolutePath)) {
        rm(base)
        write(base)
        Runtime.getRuntime.addShutdownHook(new Thread(() => rm(base)))
        laidOut.add(base.getAbsolutePath): Unit
      }
    }
    base
  }
}
