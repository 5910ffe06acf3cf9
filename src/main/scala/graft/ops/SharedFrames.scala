package graft.ops

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Tables

/** Suite-level materialize-once registry for subplans that several
  * registry queries share (the retrieval-eval family's sparse and
  * dense top-k rankings, the dense doc-vector index behind them).
  *
  * Without this, a suite run computes the same expensive frame once
  * per consumer. With it, the first consumer pays the build (an eager
  * localCheckpoint) and later consumers reuse the materialized RDD.
  *
  * Mechanics:
  *  - entries follow [[graft.Tables.Memo]]: keyed by (session, data dir,
  *    name) and stamped by every table file under the dir, so a replaced
  *    table rebuilds them and warm-up at one SF never leaks into a run at
  *    another. A replaced frame's checkpoint is unpersisted;
  *  - materialization is `localCheckpoint(eager = true)`: executor-
  *    local RDD storage, scale-safe (never driver-collected — probe
  *    top-k frames grow with the probe count, which is a corpus
  *    fraction, not a constant);
  *  - the backing RDDs are kept with each entry so harness-level cache
  *    hygiene (perfbench's `Harness.hygiene` unpersist) can exempt them
  *    ([[isShared]]) — a localCheckpointed RDD is UNRECOVERABLE once
  *    unpersisted, and the whole point is surviving across queries;
  *  - [[releaseAll]] unpersists everything and clears the registry —
  *    Verify, Explain and perfbench call it after their runs (the
  *    "released after the family runs" contract; a library user
  *    embedding these queries calls it whenever the family is done).
  */
object SharedFrames {
  /** A built entry: the frame or value, the payer that built it, and the
    * checkpoint RDDs of a frame. */
  private final case class Built(value: Any, builtBy: String, checkpoints: Seq[RDD[_]])

  private val memo =
    new Tables.Memo[Built](_.checkpoints.foreach(_.unpersist(blocking = false)))

  // Build attribution for perfbench's metrics: which query was running
  // when each shared frame actually materialized. An isolated re-measure
  // of the FIRST consumer otherwise reads as a regression when it is
  // really paying the family's build.
  private val buildLog =
    scala.collection.mutable.ArrayBuffer.empty[(String, String, Double)]
  @volatile private var payerName: String = ""

  /** Harness hook (perfbench): name the query about to run so frame
    * builds it triggers are attributed to it in [[paidBuilds]]. */
  def setPayer(name: String): Unit = payerName = name

  /** payer query -> shared frame/value names whose build it triggered
    * (in build order), across every dir built since the last
    * [[clearBuildLog]]. Survives [[releaseAll]] within the process so
    * the harness can read it after suite cleanup. */
  def paidBuilds: Map[String, Seq[String]] = synchronized {
    buildLog.toSeq.groupBy(_._1).map { case (p, xs) => p -> xs.map(_._2) }
  }

  /** payer query -> total wall seconds its timed region spent inside
    * shared builds, so a comparison between runs can subtract build
    * cost. Caveat: a build that calls [[frame]]/[[value]] INSIDE its
    * body (e.g. sparse_top20 building docvecs) is timed by both the
    * inner and the outer entry, so the per-payer sum can exceed the
    * query's own wall seconds — read it as "build involvement", not
    * exclusive time. */
  def paidBuildSeconds: Map[String, Double] = synchronized {
    buildLog.toSeq.groupBy(_._1)
      .map { case (p, xs) => p -> xs.map(_._3).sum }
  }

  /** Reset build attribution (NOT the memo itself). A long-lived
    * process running multiple suites calls this at the start of each
    * timed run so warm-up builds at another SF don't alias the timed
    * SF's frame names in [[paidBuilds]]. */
  def clearBuildLog(): Unit = synchronized(buildLog.clear())

  /** Is this RDD id one of the shared materializations? (perfbench's
    * `Harness.hygiene` unpersist exempts these.) */
  def isShared(rddId: Int): Boolean =
    memo.values.exists(_.checkpoints.exists(_.id == rddId))

  /** The lookup behind [[frame]] and [[value]]. The (payer, name) entry
    * is logged BEFORE the build runs and its duration patched in a
    * finally, so a build that throws still attributes the query that
    * half-paid it. The builder's payer name and runtime class are kept,
    * so a (dir, name) collision between two call sites expecting
    * different types fails FAST at the second call site, naming the
    * first builder — not as a remote ClassCastException at an innocent
    * consumer. Erasure caveat: two generic types with the same runtime
    * class (e.g. two Tuple2 shapes) still pass this guard — the key
    * contract (include the hyperparams and input columns in `name`) is
    * the real defense. */
  private def lookup[T](s: SparkSession, dir: String, name: String)(build: => Built)(
      implicit ct: scala.reflect.ClassTag[T]): T = synchronized {
    val b = memo(s, dir, name, Tables.names) {
      val idx = buildLog.length
      buildLog += ((payerName, name, -1.0))
      val t0 = System.nanoTime()
      try build
      finally buildLog(idx) = ((payerName, name, (System.nanoTime() - t0) / 1e9))
    }
    // stored values are boxed: a primitive ClassTag checks against the
    // boxed class, or a type collision would pass the guard
    val expected: Class[_] = ct.runtimeClass match {
      case java.lang.Long.TYPE      => classOf[java.lang.Long]
      case java.lang.Integer.TYPE   => classOf[java.lang.Integer]
      case java.lang.Double.TYPE    => classOf[java.lang.Double]
      case java.lang.Float.TYPE     => classOf[java.lang.Float]
      case java.lang.Boolean.TYPE   => classOf[java.lang.Boolean]
      case java.lang.Short.TYPE     => classOf[java.lang.Short]
      case java.lang.Byte.TYPE      => classOf[java.lang.Byte]
      case java.lang.Character.TYPE => classOf[java.lang.Character]
      case java.lang.Void.TYPE      => classOf[scala.runtime.BoxedUnit]
      case c                        => c
    }
    require(b.value == null || expected.isInstance(b.value),
      s"SharedFrames key collision on ($dir, $name): stored " +
        s"${b.value.getClass.getName} (built by '${b.builtBy}'), requested " +
        s"${ct.runtimeClass.getName} (payer '$payerName') — disambiguate " +
        "the name")
    b.value.asInstanceOf[T]
  }

  /** Memoized eager localCheckpoint of `build`. */
  def frame(s: SparkSession, dir: String, name: String)(build: => DataFrame): DataFrame =
    lookup[DataFrame](s, dir, name) {
      val df = build
      val sc = s.sparkContext
      val before = sc.getPersistentRDDs.keySet
      val out = df.localCheckpoint(true)
      Built(out, payerName,
        sc.getPersistentRDDs.collect { case (id, r) if !before(id) => r }.toSeq)
    }

  /** Memoized driver-side value of bounded size (e.g. a learned merge
    * table, a vocabulary size) — the [[frame]] pattern for results that
    * live on the driver rather than in executor storage. The build must
    * leave no persisted RDDs behind (release its own caches):
    * perfbench's `Harness.hygiene` only exempts [[frame]] checkpoints. */
  def value[T](s: SparkSession, dir: String, name: String)(build: => T)(
      implicit ct: scala.reflect.ClassTag[T]): T =
    lookup[T](s, dir, name)(Built(build, payerName, Nil))

  /** Unpersist and drop every entry named `name`, at every dir. */
  private[graft] def release(name: String): Unit = memo.drop(_._3 == name)

  /** Unpersist every shared frame and clear the registry. */
  def releaseAll(): Unit = memo.drop(_ => true)
}
