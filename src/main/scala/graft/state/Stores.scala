package graft.state

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Store registry + query surface: the batch analog of the reference's
  * store registry and HTTP interactive-query layer
  * (`/root/reference/kstream/store/registry.go:12-160`, store/http.go:120-399).
  * A "store" is a named keyed DataFrame (usually a latest-by-key snapshot)
  * registered as a temp view, so `GET /stores/{s}/{key}` becomes
  * `spark.sql("SELECT ... WHERE key = ...")` — the HTTP layer itself is a
  * transport detail, not an engine capability.
  */
final class StoreRegistry(spark: SparkSession) {
  private val stores = TrieMap.empty[String, DataFrame]
  private val keys = TrieMap.empty[String, String]

  def register(name: String, df: DataFrame): Unit = {
    stores.put(name, df)
    keys.putIfAbsent(name, df.columns.head)
    df.createOrReplaceTempView(name)
  }

  def register(name: String, df: DataFrame, keyCol: String): Unit = {
    keys.put(name, keyCol)
    register(name, df)
  }

  /** Streaming materialize (S4): called per micro-batch from
    * `writeStream.foreachBatch` — merge the batch into the keyed snapshot,
    * latest `ord` wins. `localCheckpoint` truncates lineage so a
    * long-running query doesn't accrete one union per batch; the durable
    * production form of this is a MERGE into a transactional table or the
    * state store itself ([[graft.streaming.StreamingStateV2.latestByKey]]).
    */
  def upsert(name: String, batch: DataFrame, keyCols: Seq[String], ord: Seq[Column]): Unit = {
    val merged = stores.get(name) match {
      case Some(cur) => Upserts.latestByKey(cur.unionByName(batch), keyCols, ord)
      case None      => Upserts.latestByKey(batch, keyCols, ord)
    }
    // foreachBatch hands us a DataFrame bound to a per-stream session
    // clone; rebind the materialized snapshot to the registry's session so
    // the temp view is visible to interactive queries.
    val snap = merged.localCheckpoint(true)
    keys.put(name, keyCols.head)
    register(name, spark.createDataFrame(snap.rdd, snap.schema))
  }

  /** `GET /stores` — registry.go:131-141. */
  def storeNames: Seq[String] = stores.keys.toSeq.sorted
  def store(name: String): DataFrame =
    stores.getOrElse(name, sys.error(s"unknown store $name"))
  def keyOf(name: String): String =
    keys.getOrElse(name, sys.error(s"unknown store $name"))
  def sql(q: String): DataFrame = spark.sql(q)
}

/** A4 range/scan and A5 secondary-index lookups over keyed snapshots
  * (store/store.go:175-218, store/indexed_store.go:59-160).
  */
object Stores {

  /** Point lookup: store.Get (store/store.go:151-173); missing key ⇒ empty. */
  def get(store: DataFrame, keyCol: String, key: Any): DataFrame =
    store.filter(col(keyCol) === lit(key))

  /** A4 GetRange(from, to) — inclusive, like the backend's RangeIterator
    * (backend/backend.go:22). A predicate, so it partition-prunes / pushes
    * down to the scan instead of iterating.
    */
  def range(store: DataFrame, keyCol: String, from: Any, to: Any): DataFrame =
    store.filter(col(keyCol).between(lit(from), lit(to)))

  /** A5 GetIndexedRecords(index, key): rows whose index expression equals
    * the probe (store/indexed_store.go:139-160). The reference maintains a
    * hash multimap index eagerly; as a Spark predicate the same lookup
    * pushes down and scans only matching row groups.
    */
  def indexLookup(store: DataFrame, indexExpr: Column, indexKey: Any): DataFrame =
    store.filter(indexExpr === lit(indexKey))

  /** The materialized form of an A5 index: indexValue -> sorted set of
    * primary keys (store/hash_index.go:21-130). One partial-agg shuffle.
    */
  def invertedIndex(store: DataFrame, keyCol: String, indexExpr: Column): DataFrame =
    store.groupBy(indexExpr.as("index_key"))
      .agg(sort_array(collect_set(col(keyCol))).as("keys"))
}
