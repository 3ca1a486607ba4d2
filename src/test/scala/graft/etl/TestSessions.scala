package graft.etl

import org.apache.spark.sql.SparkSession

object TestSessions {
  lazy val spark: SparkSession = graft.Sessions.build(4)
}
