package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Shared rewrite-and-swap plumbing for the append-only stores'
  * `compact()` operations: daily delta ingests at scale accumulate
  * one file set per ingest per partition directory (the classic
  * small-files swamp), and compaction rewrites a store subdirectory
  * into `<dir>__compacting` BEFORE any existing data is touched.
  *
  * Crash safety — the swap is rename-first, never delete-first:
  *
  *   1. `write(tmp)` fully materializes the compacted copy;
  *   2. rename(dest -> dest__old)   — the ONLY instant dest is absent;
  *   3. rename(tmp -> dest)         — the compacted copy is adopted;
  *   4. delete(dest__old)           — cleanup.
  *
  * A crash before step 2 leaves the old layout (plus an ignorable
  * tmp). A crash between 2 and 3 leaves dest briefly missing, but the
  * COMPLETE compacted copy sits in `__compacting` — the next
  * `rewrite`/`recover` on the path adopts it (dest was only renamed
  * away AFTER the tmp write finished, so a tmp that coexists with a
  * missing dest is complete by construction). A crash after 3 leaves
  * a stale `__old` the next run clears. At no point can BOTH the old
  * and new copies be lost.
  */
private[graft] object StoreCompaction {

  /** Run independent Spark write jobs concurrently (guide §2.6): a
    * store's subdirectory writes/rewrites are sequential only because
    * driver code calls them sequentially, and each leaves most of the
    * cluster idle through its task tail + file commit. Callers MUST
    * pre-materialize any lazily-localCheckpointed frame shared by two
    * tasks (one count() before the fork) — concurrent first
    * materialization of one checkpoint is the r11 deadlock class.
    * An empty task list returns at once. A failure is rethrown only
    * after every task has finished, so a caller never races a writer
    * that is still running: the first failing task's original
    * exception (in task order), with the others attached as
    * suppressed. */
  def inParallel(tasks: (() => Unit)*): Unit = if (tasks.nonEmpty) {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      tasks.size)
    try {
      val futures = tasks.map { t =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = t()
        })
      }
      val failures = futures.flatMap { f =>
        try { f.get(); None }
        catch {
          case e: java.util.concurrent.ExecutionException =>
            Some(e.getCause)
        }
      }
      failures.headOption.foreach { first =>
        failures.tail.filterNot(_ eq first).foreach(first.addSuppressed)
        throw first
      }
    } finally pool.shutdown()
  }

  /** Swap-step markers for the fault-injection seam (`onSwapStep`):
    * called with 1 after dest -> __old and 2 after tmp -> dest, so a
    * spec can simulate a crash at either window and assert recovery. */
  type SwapHook = Int => Unit

  /** Rewrite `dest` via `write(tmpDir)` then swap the tmp directory in
    * rename-first (see object doc). `write` must be a full
    * materializing action. `onSwapStep` is a test-only fault seam. */
  def rewrite(spark: SparkSession, dest: String,
              onSwapStep: SwapHook = _ => ())
             (write: String => Unit): Unit = {
    val fs = fileSystem(spark, dest)
    val destP = new Path(dest)
    val tmpP = new Path(dest + "__compacting")
    val oldP = new Path(dest + "__old")
    recover(fs, destP, tmpP, oldP)
    fs.delete(tmpP, true)
    write(tmpP.toString)
    require(fs.rename(destP, oldP),
      s"compaction rename failed: $dest -> $oldP")
    onSwapStep(1)
    require(fs.rename(tmpP, destP),
      s"compaction rename failed: $tmpP -> $dest")
    onSwapStep(2)
    fs.delete(oldP, true)
  }

  /** Adopt the surviving copy after a mid-swap crash: if `dest` is
    * missing, the complete `__compacting` copy (preferred — it is the
    * newer compacted data and only coexists with a missing dest after
    * the tmp write finished) or the `__old` copy is renamed back in;
    * any leftover `__old` from a post-adopt crash is then cleared.
    * Idempotent; also runs at the top of every [[rewrite]]. */
  def recover(spark: SparkSession, dest: String): Unit = {
    val fs = fileSystem(spark, dest)
    recover(fs, new Path(dest), new Path(dest + "__compacting"),
      new Path(dest + "__old"))
  }

  private def recover(fs: FileSystem, destP: Path, tmpP: Path,
                      oldP: Path): Unit = {
    if (!fs.exists(destP)) {
      if (fs.exists(tmpP)) {
        require(fs.rename(tmpP, destP),
          s"compaction recovery failed: $tmpP -> $destP")
      } else if (fs.exists(oldP)) {
        require(fs.rename(oldP, destP),
          s"compaction recovery failed: $oldP -> $destP")
      }
    }
    fs.delete(oldP, true)
  }

  private def fileSystem(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Count parquet data files under `dir` recursively — the
    * file-count assertion the compaction round-trip specs make. */
  def dataFileCount(spark: SparkSession, dir: String): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new Path(dir)
    val fs = p.getFileSystem(conf)
    val it = fs.listFiles(p, true)
    var n = 0L
    while (it.hasNext) {
      if (it.next().getPath.getName.endsWith(".parquet")) n += 1
    }
    n
  }
}
