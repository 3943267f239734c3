package graft

import org.scalatest.funsuite.AnyFunSuite

/** Session settings whose effect a query result does not show. */
class SessionSettingsSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  test("typed Dataset tasks run without a per-session artifact class loader") {
    val spark0 = spark
    import spark0.implicits._
    // With artifact isolation on, every SQL task's context class loader is
    // the session's ExecutorClassLoader, which resolves each class name
    // that executor-side codegen looks up through the application jars
    // and then the driver's class server.
    val loaders = spark.range(0, 8, 1, 4)
      .map(_ => Thread.currentThread.getContextClassLoader.getClass.getName)
      .distinct().collect()
    assert(loaders.nonEmpty)
    assert(!loaders.contains("org.apache.spark.executor.ExecutorClassLoader"), loaders.toSeq)
  }
}
