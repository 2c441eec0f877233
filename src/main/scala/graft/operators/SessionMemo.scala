package graft.operators

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** The engine's one session-scoped memo: every value a contract query
  * reuses across invocations (fixture-table loads, verified pair frames,
  * cluster labels, curate reasons, the contract graph, derived-knob
  * corpus statistics) lives in ONE map keyed by (session, family, key)
  * and stamped with the fingerprint of the files the value was built
  * from.
  *
  * Lifecycle:
  *  - an entry lives as long as its session: every lookup first evicts
  *    the entries of stopped sessions ([[purge]] with
  *    `!sparkContext.isStopped`), so a long-lived multi-session service
  *    cannot pin dead sessions (or their checkpointed blocks' metadata);
  *  - an entry is valid for one input fingerprint — the sorted (path,
  *    size, mtime) listing of the files it reads. Rewriting an input
  *    mid-session changes the fingerprint, and the next lookup drops the
  *    stale entry and rebuilds instead of serving the old answer;
  *  - the map holds a lazy holder per key and the build runs outside the
  *    map lock, so a build may itself look up other families (curate
  *    reasons → cluster labels → jaccard pairs) in any order. Concurrent
  *    lookups of one key wait on the one build; a build that throws
  *    leaves nothing cached.
  *
  * Memoized values are deterministic functions of their inputs, so a
  * hit is observationally equal to a rebuild. Values built by
  * [[Materialize.cut]] are executor-local blocks by default: on a
  * cluster with executor churn set `spark.graft.materialize=reliable`
  * (durable `checkpoint()` files), or a lost block fails every later
  * consumer in the session where an unmemoized build would have
  * recomputed.
  *
  * Modelled on session-scoped reuse with explicit invalidation
  * (Incremental Based Framework for Efficient Top-K Similarity Search in
  * Interactive Data Analysis Sessions, EDBT 2020).
  */
object SessionMemo {

  /** Sorted (path, size, mtime) of every file under an entry's inputs. */
  private type Fingerprint = Seq[(String, Long, Long)]

  /** One named memo family: its keys, values and build/hit counters. */
  final class Family[K, V] private[SessionMemo] (val name: String) {
    private[SessionMemo] val builds = new AtomicLong
    private[SessionMemo] val hits = new AtomicLong

    /** The value for `key` in `spark`, built by `build` on a miss or when
      * the files under `inputs` changed since the entry was built.
      */
    def apply(spark: SparkSession, key: K, inputs: Seq[String])(build: => V): V =
      lookup(this, spark, key, fingerprint(spark, inputs),
        () => { builds.incrementAndGet(); build }).asInstanceOf[V]
  }

  private final class Entry(val fingerprint: Fingerprint, build: () => Any) {
    lazy val value: Any = build()
  }

  private val memo = new ConcurrentHashMap[(SparkSession, String, Any), Entry]()

  private val families =
    scala.collection.mutable.LinkedHashMap.empty[String, Family[_, _]]

  def family[K, V](name: String): Family[K, V] = families.synchronized {
    require(!families.contains(name), s"memo family $name registered twice")
    val f = new Family[K, V](name)
    families(name) = f
    f
  }

  private def lookup(f: Family[_, _], spark: SparkSession, key: Any,
      fp: Fingerprint, build: () => Any): Any = {
    purge(s => !s.sparkContext.isStopped)
    val k = (spark, f.name, key)
    var fresh: Entry = null
    val e = memo.compute(k, (_, prev) =>
      if (prev != null && prev.fingerprint == fp) prev
      else { fresh = new Entry(fp, build); fresh })
    if (e ne fresh) f.hits.incrementAndGet()
    try e.value
    catch { case t: Throwable => memo.remove(k, e); throw t }
  }

  /** Evict every entry, of every family, whose session fails `alive`.
    * The predicate is injectable because a spec cannot stop the suite's
    * one shared SparkContext to exercise the real signal.
    */
  private[graft] def purge(alive: SparkSession => Boolean): Unit =
    memo.keySet.removeIf(k => !alive(k._1))

  /** Live entries of `spark` per registered family (0 when empty). */
  private[graft] def sizes(spark: SparkSession): Map[String, Int] = {
    val counts = scala.collection.mutable.Map.empty[String, Int]
    memo.keySet.forEach(k => if (k._1 eq spark) counts(k._2) = counts.getOrElse(k._2, 0) + 1)
    families.synchronized(families.keys.map(n => n -> counts.getOrElse(n, 0)).toMap)
  }

  /** Builds run (memo misses) of family `name`. */
  private[graft] def builds(name: String): Long =
    families.synchronized(families(name)).builds.get

  /** Lookups served from an existing entry of family `name`. */
  private[graft] def hits(name: String): Long =
    families.synchronized(families(name)).hits.get

  /** The root paths of the file relations `df` reads — the inputs of an
    * entry keyed by a plan. Needed because a plan alone cannot tell a
    * rewritten input apart: `InMemoryFileIndex.equals` compares root
    * paths only.
    */
  private[graft] def inputsOf(df: DataFrame): Seq[String] =
    df.queryExecution.analyzed.collectWithSubqueries {
      case l: LogicalRelation => l.relation
    }.flatMap {
      case h: HadoopFsRelation => h.location.rootPaths.map(_.toString)
      case _ => Nil
    }

  private def fingerprint(spark: SparkSession, inputs: Seq[String]): Fingerprint =
    inputs.flatMap { in =>
      val path = new Path(in)
      val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val files = Seq.newBuilder[(String, Long, Long)]
      try {
        val it = fs.listFiles(path, true)
        while (it.hasNext) {
          val s = it.next()
          files += ((s.getPath.toString, s.getLen, s.getModificationTime))
        }
      } catch {
        // a missing input is the build's error to report, not the memo's
        case _: java.io.FileNotFoundException =>
      }
      files.result()
    }.sorted
}
