package org.apache.spark.sql

import org.apache.spark.scheduler.StageInfo

/** Spark internals the specs read, which Scala keeps package-private. */
object GraftTestAccess {
  def cachedEntries(spark: SparkSession): Int =
    spark.sharedState.cacheManager.numCachedEntries

  def isShuffleMapStage(stage: StageInfo): Boolean =
    stage.shuffleDepId.isDefined
}
