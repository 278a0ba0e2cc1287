package graft.query

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-path dictionary lookup: per-query pushed-filter probes of the
  * (field, term)-sorted dictionary table, with a resolved-(field, term) -> df
  * cache (negative results cached as 0 so absent terms never re-probe).
  *
  * The dictionary's files are each sorted by (field, term)
  * (`IndexBuilder.commit`), so a probe's `term IN (...)` filter
  * prunes to O(query terms) parquet row groups via min/max stats — one tiny
  * job per batch of unseen terms, never a vocabulary-sized driver collect.
  * For small vocabularies (below `maxDriverTerms`) the whole table is
  * collected once instead — lowest latency when it safely fits. Whether it
  * fits costs a count job unless `vocabBound`, an upper bound on the
  * vocabulary known without a job (the [[Searcher]] passes its segment's
  * [[graft.index.IndexMeta.postingsBound]]), already proves it. Set
  * `maxDriverTerms = 0` to force the probe path (the strategies are
  * answer-identical; EngineSpec gates this). The table is read with its
  * known schema, so no read runs a schema-inference job. When the caller already holds the dfs (a resident
  * segment sums them from its loaded runs), `loaded` supplies the collected
  * map instead of the dictionary collect.
  *
  * The probe cache is a BOUNDED LRU (`maxCacheTerms` entries, access-order
  * eviction): a long-lived query service probing unbounded distinct terms
  * holds at most `maxCacheTerms` resolved (field, term) -> df entries on the
  * driver — ~100 B each, so the default bound costs <= ~100 MB — while
  * repeat queries over RECENT terms stay probe-free (EngineSpec gates both).
  */
// NOT Serializable (like Searcher): this class holds the multi-MB resolved
// dictionary state — a closure accidentally capturing it must fail loudly,
// never ship it in task binaries.
final class DictProbe(spark: SparkSession, dictPath: String,
                      maxDriverTerms: Long = 1L << 22,
                      val maxCacheTerms: Int = 1 << 20,
                      vocabBound: Long = Long.MaxValue,
                      loaded: Option[() => Map[(String, String), Long]] = None) {
  import spark.implicits._

  private lazy val dictDF: DataFrame =
    spark.read.schema(graft.index.IndexBuilder.DictionarySchema).parquet(dictPath)

  /** Whether the vocabulary fits `maxDriverTerms`: free when `vocabBound`
    * proves it, else one count job, metadata-cheap on a (field,term,df,cf)
    * columnar table.
    */
  private lazy val fitsDriver: Boolean =
    maxDriverTerms > 0 && (vocabBound <= maxDriverTerms || dictDF.count() <= maxDriverTerms)

  /** Entries of the collected-full map, 0 until/unless it materializes. */
  @volatile private var collectedTerms: Long = 0L

  private lazy val full: Option[Map[(String, String), Long]] =
    if (fitsDriver) {
      val m = loaded.fold(dictDF.select($"field", $"term", $"df").collect()
        .map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap)(_())
      collectedTerms = m.size
      Some(m)
    } else None

  /** Driver-resident resolved entries right now (collected map + LRU) —
    * the quantity a multi-segment [[Searcher]] budgets globally.
    */
  private[graft] def residentEntries: Long = collectedTerms + cacheSize

  /** Access-order LinkedHashMap = true LRU; eldest entry drops past the
    * bound. Guarded by its own monitor — driver-side only, contention-free.
    */
  private val cache =
    new java.util.LinkedHashMap[(String, String), java.lang.Long](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, String), java.lang.Long]): Boolean =
        size() > maxCacheTerms
    }

  private[graft] def cacheSize: Int = cache.synchronized(cache.size())

  /** Probe jobs issued (tests assert repeat queries stay at 0 extra). */
  private[graft] val probes = new java.util.concurrent.atomic.AtomicLong(0)

  /** In-flight probes keyed by their missing-key set: concurrent calls that
    * miss on the SAME keys (the hot-term stampede under searchMany's
    * concurrency) share one Spark job instead of issuing duplicates.
    * Results are idempotent, so this is purely a cost dedup — overlapping
    * but unequal key sets still probe independently.
    */
  private val inFlight = new java.util.concurrent.ConcurrentHashMap[
    Set[(String, String)],
    java.util.concurrent.CompletableFuture[Map[(String, String), Long]]]()

  /** df per key; keys with no dictionary entry are absent from the result. */
  def dfOf(keys: Set[(String, String)]): Map[(String, String), Long] = full match {
    case Some(d) => keys.iterator.flatMap(k => d.get(k).map(k -> _)).toMap
    case None =>
      // resolve from cache first (touches entries = LRU recency)
      val fromCache = cache.synchronized {
        keys.iterator.flatMap { k =>
          Option(cache.get(k)).map(k -> _.longValue)
        }.toMap
      }
      val missing = keys.filterNot(fromCache.contains)
      val found: Map[(String, String), Long] =
        if (missing.isEmpty) Map.empty
        else {
          val fut = new java.util.concurrent.CompletableFuture[Map[(String, String), Long]]()
          val prior = inFlight.putIfAbsent(missing, fut)
          if (prior != null) prior.join() // the racer's job resolves our keys too
          else
            try {
              probes.incrementAndGet()
              val terms = missing.map(_._2).toSeq
              val fields = missing.map(_._1).toSeq
              val f = dictDF
                .filter($"term".isin(terms: _*) && $"field".isin(fields: _*))
                .select($"field", $"term", $"df")
                .collect()
                .map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
              cache.synchronized {
                missing.foreach(k => cache.put(k, Long.box(f.getOrElse(k, 0L))))
              }
              fut.complete(f)
              f
            } catch {
              case t: Throwable => fut.completeExceptionally(t); throw t
            } finally inFlight.remove(missing, fut)
        }
      // answers come from THIS call's cache hits + probe result, so a bound
      // smaller than one query's key set can never lose a resolved df
      (fromCache ++ missing.iterator.map(k => k -> found.getOrElse(k, 0L)))
        .filter(_._2 != 0L)
  }
}
