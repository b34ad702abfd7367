package graft

import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** What a built session carries: tracked caches of a context that stops
  * are dropped (checked in a child JVM: it stops its context, and the
  * suites' shared one must stay up), and `file:` opens graft's file
  * systems. */
class GraftSessionSpec extends AnyFunSuite {
  test("stopping a context empties its cache manager of tracked frames") {
    val flags = java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
      .filter(a => a.startsWith("--add-opens") || a.startsWith("-Dspark."))
    val cmd = Seq(s"${System.getProperty("java.home")}/bin/java", "-Xmx512m") ++ flags ++
      Seq("-cp", System.getProperty("java.class.path"), "graft.StopWithTrackedCaches")
    val out, err = scala.collection.mutable.Buffer.empty[String]
    val code = scala.sys.process.Process(cmd).!(scala.sys.process.ProcessLogger(out += _, err += _))
    assert(code == 0, err.takeRight(20).mkString("\n"))
    assert(out.lastOption.contains("cache entries after stop: 0"), out.mkString("\n"))
  }

  test("a built session resolves file: to graft's java.nio file systems") {
    val conf = SparkSpec.session.sessionState.newHadoopConf()
    val root = java.net.URI.create("file:///")
    val fs = org.apache.hadoop.fs.FileSystem.newInstance(root, conf)
    try {
      assert(fs.getClass == classOf[graft.fs.NioLocalFileSystem])
      assert(fs.asInstanceOf[org.apache.hadoop.fs.LocalFileSystem].getRaw.getClass ==
        classOf[graft.fs.NioRawLocalFileSystem])
    } finally fs.close()
    assert(org.apache.hadoop.fs.AbstractFileSystem.get(root, conf).getClass == classOf[graft.fs.NioLocalFs])
  }
}

/** Tracks two cached frames (one reading the other), stops the context
  * and prints how many entries its cache manager still holds. */
object StopWithTrackedCaches {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.builder("local[1]", 1).appName("stop-with-tracked-caches").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val part = GraftSession.trackCache(spark.range(1000).toDF("id"))
    GraftSession.trackCache(part.selectExpr("id * 2 AS x")).count()
    val caches = spark.sharedState.cacheManager
    require(!caches.isEmpty, "nothing was cached")
    spark.stop()
    println(s"cache entries after stop: ${if (caches.isEmpty) 0 else "some"}")
  }
}
