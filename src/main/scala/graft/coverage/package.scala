package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Fixture readers every coverage file shares. */
package object coverage {
  def ev(s: SparkSession, dir: String): DataFrame = Tables.load(s, dir, "events")
  def docs(s: SparkSession, dir: String): DataFrame = Tables.load(s, dir, "documents")
}
