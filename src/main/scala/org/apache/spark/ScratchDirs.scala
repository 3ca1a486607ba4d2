package org.apache.spark

import java.nio.file.{Files, Path}

import org.apache.spark.util.Utils

/** Scratch directories for entries and specs. Each is made under one
  * root per JVM, and the root is deleted when the JVM exits: it is
  * registered with Spark's shutdown hooks, whose directory deletion runs
  * after the SparkContext's stop hook, so no task or streaming query is
  * still writing into it. It lives in this package because `Utils` is
  * Spark-private. */
object ScratchDirs {
  private lazy val root: Path = Utils.createTempDir(namePrefix = "graft").toPath

  /** A fresh, empty directory named `prefix<random>` under the root. */
  def create(prefix: String): Path = Files.createTempDirectory(root, prefix)
}
