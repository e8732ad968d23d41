package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import graft.sources.BulkDocumentSink

/** The engine's bulk-indexing sink with an in-process transport: each
  * batch upserts by the unique key into a map that stands in for the
  * search collection, and `commit` counts one visibility commit. Tasks run
  * in the driver JVM under `local[n]`, so the state is shared. */
object MemorySink extends BulkDocumentSink {
  val store = new ConcurrentHashMap[Any, Map[String, Any]]()
  val batches = new AtomicLong
  val docsSent = new AtomicLong
  val commits = new AtomicLong
  private val sentIds = ConcurrentHashMap.newKeySet[Any]()

  protected def addBatch(collection: String, idField: String,
      docs: Seq[Map[String, Any]]): Unit = {
    docs.foreach { d => store.put(d(idField), d); sentIds.add(d(idField)) }
    batches.incrementAndGet()
    docsSent.addAndGet(docs.size.toLong)
  }

  protected def commit(collection: String): Unit = commits.incrementAndGet()

  /** Distinct ids sent since the last reset. */
  def docsUnique: Long = sentIds.size.toLong

  def resetCounters(): Unit = {
    batches.set(0); docsSent.set(0); commits.set(0); sentIds.clear()
  }
}
