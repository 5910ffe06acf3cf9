package graft.ops

import org.apache.spark.sql.DataFrame

/** Suite-level materialize-once registry for subplans that several
  * registry queries share (the retrieval-eval family's sparse and
  * dense top-k rankings, the dense doc-vector index behind them).
  *
  * Without this, a suite run computes the same expensive frame once
  * per consumer — the r8 verdict measured ~15-20s of the driver bench
  * total as the SAME two frames built three times. With it, the first
  * consumer pays the build (an eager localCheckpoint) and later
  * consumers reuse the materialized RDD.
  *
  * Mechanics:
  *  - frames are keyed by (data dir, name), so warm-up at one SF never
  *    leaks into the timed run at another;
  *  - materialization is `localCheckpoint(eager = true)`: executor-
  *    local RDD storage, scale-safe (never driver-collected — probe
  *    top-k frames grow with the probe count, which is a corpus
  *    fraction, not a constant);
  *  - the backing RDD ids are tracked so harness-level cache hygiene
  *    (perfbench's `Harness.hygiene` unpersist) can exempt them — a
  *    localCheckpointed RDD is UNRECOVERABLE once unpersisted, and the
  *    whole point is surviving across queries;
  *  - [[releaseAll]] unpersists everything and clears the registry —
  *    Verify, Explain and perfbench call it after their runs (the
  *    "released after the family runs" contract; a library user
  *    embedding these queries calls it whenever the family is done).
  */
object SharedFrames {
  private val memo =
    scala.collection.mutable.Map.empty[(String, String), DataFrame]
  private val scalarMemo =
    scala.collection.mutable.Map.empty[(String, String), Long]
  private val sharedIds = scala.collection.mutable.Set.empty[Int]
  // Build attribution for perfbench's metrics: which query was running
  // when each shared frame actually materialized. An isolated re-measure
  // of the FIRST consumer (e.g. q_retrieval_rbo at 4.7s) otherwise reads
  // as a regression when it is really paying the family's build.
  private val buildLog =
    scala.collection.mutable.ArrayBuffer.empty[(String, String, String, Double)]
  @volatile private var payerName: String = ""

  /** Harness hook (perfbench): name the query about to run so frame
    * builds it triggers are attributed to it in [[paidBuilds]]. */
  def setPayer(name: String): Unit = payerName = name

  /** payer query -> shared frame/scalar names whose build it triggered
    * (in build order), across every dir built since the last
    * [[clearBuildLog]]. Survives [[releaseAll]] within the process so
    * the harness can read it after suite cleanup. */
  def paidBuilds: Map[String, Seq[String]] = synchronized {
    buildLog.toSeq.groupBy(_._1).map { case (p, xs) => p -> xs.map(_._3) }
  }

  /** payer query -> total wall seconds its timed region spent inside
    * shared builds (r12 VERDICT #8): lets round-over-round comparisons
    * subtract build cost mechanically instead of by lore. Caveat: a
    * build that calls [[frame]]/[[scalar]]/[[value]] INSIDE its body
    * (e.g. sparse_top20 building docvecs) is timed by both the inner
    * and the outer entry, so the per-payer sum can exceed the query's
    * own wall seconds — read it as "build involvement", not exclusive
    * time. */
  def paidBuildSeconds: Map[String, Double] = synchronized {
    buildLog.toSeq.groupBy(_._1)
      .map { case (p, xs) => p -> xs.map(_._4).sum }
  }

  /** As [[paidBuilds]], with the (dir, name) pair per entry — lets a
    * harness that warms up at one SF and times at another separate the
    * two epochs without clearing. */
  def paidBuildsByDir: Map[String, Seq[(String, String)]] = synchronized {
    buildLog.toSeq.groupBy(_._1)
      .map { case (p, xs) => p -> xs.map(x => (x._2, x._3)) }
  }

  /** Reset build attribution (NOT the memo itself). A long-lived
    * process running multiple suites calls this at the start of each
    * timed run so warm-up builds at another SF don't alias the timed
    * SF's frame names in [[paidBuilds]] (r11 ADVICE). */
  def clearBuildLog(): Unit = synchronized(buildLog.clear())

  /** Is this RDD id one of the shared materializations? (perfbench's
    * `Harness.hygiene` unpersist exempts these.) */
  def isShared(rddId: Int): Boolean = synchronized(sharedIds.contains(rddId))

  /** Attribution wrapper: the (payer, dir, name) entry is appended
    * BEFORE the build runs and its duration patched in a finally — a
    * build that throws mid-bench still attributes the failed query
    * that half-paid it, with the elapsed time up to the throw (r13
    * ADVICE; the post-hoc append lost exactly that evidence). Callers
    * hold the object lock, so the index-patch is race-free. */
  private def logged[T](dir: String, name: String)(build: => T): T = {
    val idx = buildLog.length
    buildLog += ((payerName, dir, name, -1.0))
    val t0 = System.nanoTime()
    try build
    finally buildLog(idx) =
      ((payerName, dir, name, (System.nanoTime() - t0) / 1e9))
  }

  /** Memoized eager localCheckpoint of `build`, keyed by (dir, name). */
  def frame(dir: String, name: String)(build: => DataFrame): DataFrame =
    synchronized {
      memo.getOrElseUpdate((dir, name), logged(dir, name) {
        val df = build
        val sc = df.sparkSession.sparkContext
        val before = sc.getPersistentRDDs.keySet
        val out = df.localCheckpoint(true)
        sharedIds ++= (sc.getPersistentRDDs.keySet -- before)
        out
      })
    }

  /** Memoized driver scalar (e.g. a vocabulary size) computed next to
    * a shared frame. */
  def scalar(dir: String, name: String)(build: => Long): Long =
    synchronized(scalarMemo.getOrElseUpdate((dir, name),
      logged(dir, name)(build)))

  private val valueMemo =
    scala.collection.mutable.Map.empty[(String, String), (Any, String)]

  /** Memoized driver-side value of bounded size (e.g. a learned merge
    * table, a collected vocabulary aggregate) computed once per suite —
    * the [[frame]] pattern for results that live on the driver rather
    * than in executor storage. The build must leave no persisted RDDs
    * behind (release its own caches): perfbench's `Harness.hygiene`
    * only exempts [[frame]] checkpoints.
    *
    * The builder's payer name and runtime class are recorded so a
    * (dir, name) key collision between two call sites expecting
    * different types fails FAST at the second call site, naming the
    * first builder — not as a remote ClassCastException at an
    * innocent consumer (r11 ADVICE). Erasure caveat: two generic
    * types with the same runtime class (e.g. two Tuple2 shapes) still
    * pass this guard — the key contract (include the hyperparams and
    * input columns in `name`) is the real defense. */
  def value[T](dir: String, name: String)(build: => T)(
      implicit ct: scala.reflect.ClassTag[T]): T = synchronized {
    val (v, builtBy) = valueMemo.getOrElseUpdate((dir, name),
      logged(dir, name)((build, payerName)))
    // A primitive ClassTag (Long/Int/…) must check against the BOXED
    // class — stored values are boxed, and an unconditional primitive
    // pass-through would let a type collision sail past the guard and
    // resurface as the remote ClassCastException this require exists
    // to prevent (r12 ADVICE).
    val expected: Class[_] = ct.runtimeClass match {
      case java.lang.Long.TYPE      => classOf[java.lang.Long]
      case java.lang.Integer.TYPE   => classOf[java.lang.Integer]
      case java.lang.Double.TYPE    => classOf[java.lang.Double]
      case java.lang.Float.TYPE     => classOf[java.lang.Float]
      case java.lang.Boolean.TYPE   => classOf[java.lang.Boolean]
      case java.lang.Short.TYPE     => classOf[java.lang.Short]
      case java.lang.Byte.TYPE      => classOf[java.lang.Byte]
      case java.lang.Character.TYPE => classOf[java.lang.Character]
      case c                        => c
    }
    require(v == null || expected.isInstance(v),
      s"SharedFrames.value key collision on ($dir, $name): stored " +
        s"${v.getClass.getName} (built by '$builtBy'), requested " +
        s"${ct.runtimeClass.getName} (payer '$payerName') — disambiguate " +
        "the name")
    v.asInstanceOf[T]
  }

  /** Unpersist every shared frame and clear the registry. */
  def releaseAll(): Unit = synchronized {
    memo.values.foreach { df =>
      try df.sparkSession.sparkContext.getPersistentRDDs
        .filter { case (id, _) => sharedIds.contains(id) }
        .values.foreach(_.unpersist(blocking = false))
      catch { case _: Throwable => () }
    }
    memo.clear()
    scalarMemo.clear()
    valueMemo.clear()
    sharedIds.clear()
  }
}
