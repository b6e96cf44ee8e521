package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Per-(dataset, process) parquet artifacts under [[graft.WorkDir]]:
  * build once under a JVM
  * lock, every later consumer reads the table back from storage. This is
  * the checkpoint-the-expensive-stage contract the pipelines use for
  * anything consumed by more than one registry query (LSH pair tables,
  * resolved near-dup clusters, ANN search results feeding their own
  * recall audits) — a table on storage survives the per-query cache
  * hygiene in Verify/Bench, and is exactly the shape a 100 TB pipeline
  * uses: checkpoint the verified stage, feed every downstream consumer
  * from the checkpoint.
  */
object Artifacts {

  /** Guards the check-then-write: consumers run in one JVM, so a JVM
    * lock is sufficient to keep a concurrent first use from
    * double-materializing the same path.
    */
  private val lock = new Object

  /** Wall seconds spent BUILDING each shared artifact in this JVM (tag →
    * sec). The first consumer query of an artifact pays its build inside
    * its own timed window; Bench reports this map as a separate
    * `build_sec`/`builds` line so the steady-state (artifact-warm)
    * per-query cost is visible next to the total-including-builds budget
    * number — a one-time table build and a per-run query cost scale
    * differently at 100 TB and should be read differently.
    */
  private val buildTimes =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Double]

  /** Child-build nanos accumulator stack (guarded by [[lock]] — builds
    * are serialized, and nested builds are same-thread reentrant). A
    * build whose body calls [[shared]] again (incSigPb builds
    * incBatchSh inside itself) must NOT double-count the inner build's
    * wall in its own entry, or `build_sec` exceeds the consumer query's
    * measured wall — the r14 t74 solo run surfaced exactly that
    * (30.6 s of "builds" inside a 24.7 s query). Each frame holds the
    * nanos of COMPLETED child builds; the parent subtracts them.
    */
  private var buildStack: List[Long] = Nil

  def buildSeconds: Map[String, Double] = {
    import scala.jdk.CollectionConverters._
    buildTimes.asScala.map { case (k, v) => (k, v.doubleValue) }.toMap
  }

  /** Run `body` holding the artifact build lock — for callers that must
    * scope a SESSION-GLOBAL conf around a build (Tables.events' legacy
    * nanos conf): holding the lock serializes the conf window against
    * every other artifact build. Reentrant (same monitor as [[shared]]),
    * so `body` may itself call `shared`. Note the remaining assumption:
    * a concurrent NON-artifact query reading a TIMESTAMP(NANOS) parquet
    * during the window would still see the legacy conf — the sequential
    * Verify/Bench/Cli drivers never do that.
    */
  def locked[T](body: => T): T = lock.synchronized(body)

  /** Thread-scoped cache-key salt (see [[withSalt]]). INHERITABLE so a
    * thread SPAWNED inside a salted `body` (a streaming query thread, a
    * parallel-collection task thread created there) sees the caller's
    * salt instead of silently reading the unsalted artifact — the
    * stale-artifact failure the salt exists to prevent. Remaining
    * caveat, by JDK semantics: threads from a pool CREATED BEFORE the
    * salt was set inherit nothing; [[shared]] records the salting
    * thread and warns on a cross-thread build so that case is loud.
    */
  private val saltLocal = new InheritableThreadLocal[String]

  /** The thread that set the current salt (mismatch diagnostics). */
  private val saltThread = new InheritableThreadLocal[Thread]

  /** Run `body` with the artifact cache key salted by `salt` on THIS
    * thread (and threads it spawns — inheritable) — for tests that must
    * force a REBUILD under a different session configuration
    * (AqeParitySpec salts each leg so artifact-building subtrees
    * actually execute under both AQE modes instead of the second leg
    * silently reading the first leg's parquet). Thread-scoped, so a
    * parallel suite's `shared` calls can never observe another thread's
    * salt — the JVM-global system property this replaced could leak
    * across suites.
    */
  def withSalt[T](salt: String)(body: => T): T = {
    val old = saltLocal.get()
    val oldT = saltThread.get()
    saltLocal.set(salt)
    saltThread.set(Thread.currentThread())
    try body
    finally {
      if (old == null) saltLocal.remove() else saltLocal.set(old)
      if (oldT == null) saltThread.remove() else saltThread.set(oldT)
    }
  }

  /** Cache key = [[graft.WorkDir]] path of tag + the optional
    * [[withSalt]] salt over the dataset.
    */
  def shared(s: SparkSession, d: String, tag: String)(
      build: => DataFrame): DataFrame = {
    val salt = Option(saltLocal.get())
      .filter(_.nonEmpty).map("_" + _).getOrElse("")
    // a salted build landing on a thread that did NOT set (or inherit)
    // the salt is the cross-thread seam withSalt's scaladoc warns about
    // — it still works (the salt was inherited if this line runs), but
    // a build from a PRE-EXISTING pool thread would arrive here
    // unsalted; make the diagnosis possible rather than silent
    if (salt.nonEmpty && (saltThread.get() ne Thread.currentThread()))
      System.err.println(
        s"[artifacts] NOTE: salted build '$tag' runs on " +
          s"${Thread.currentThread().getName}, salt set by " +
          s"${Option(saltThread.get()).map(_.getName).getOrElse("?")} — " +
          "inherited correctly, but pool threads created before the salt " +
          "would not inherit it")
    val path = graft.WorkDir.path(tag + salt, d)
    lock.synchronized {
      if (!new java.io.File(path, "_SUCCESS").exists()) {
        val t0 = System.nanoTime()
        buildStack = 0L :: buildStack
        // a throwing build must still pop its frame, or the next build
        // on this process misattributes child time
        try build.write.mode("overwrite").parquet(path)
        catch { case e: Throwable => buildStack = buildStack.tail; throw e }
        val total = System.nanoTime() - t0
        val childNanos = buildStack.head
        buildStack = buildStack.tail
        // this build's own time excludes completed child builds; its
        // TOTAL wall rolls up into the parent's child frame
        buildTimes.merge(tag, (total - childNanos) / 1e9,
          (a, b) => a.doubleValue + b.doubleValue)
        buildStack = buildStack match {
          case h :: t => (h + total) :: t
          case Nil => Nil
        }
      }
    }
    s.read.parquet(path)
  }
}
