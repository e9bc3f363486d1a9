package graft.core

import org.apache.spark.sql.Dataset
import org.apache.spark.storage.StorageLevel

/** The one lifetime rule for intermediates a query reads more than once:
  * they live exactly as long as the query that made them.
  *
  * The blocks are persisted at the RDD level, never through Spark's
  * CacheManager, so no later query with an equal plan — or the same
  * expression text over a rewritten table — can be answered from them.
  * The returned Dataset reads the persisted RDD, whose lineage is kept
  * (no `localCheckpoint`): a lost block is recomputed from the source.
  * Spark's ContextCleaner releases the blocks once the returned Dataset
  * and everything built on it are unreachable, so no caller unpersists.
  *
  * Cost: `ds.rdd` prepares the physical plan now. Under AQE a plan that
  * carries an exchange runs its shuffle map stages here, at build time;
  * the stage after the last exchange runs when the result is first read.
  */
object Intermediate {
  def persist[T](ds: Dataset[T], level: StorageLevel): Dataset[T] =
    ds.sparkSession.createDataset(ds.rdd.persist(level))(ds.encoder)
}
