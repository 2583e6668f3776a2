package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.SparkSession

class GraftExtensionsSpec extends SparkSpec {

  /** The SQL resolution of `name`: the class `DESCRIBE FUNCTION` names,
    * or None when SQL cannot resolve it.
    */
  private def sqlClass(s: SparkSession, name: String): Option[String] =
    scala.util.Try(s.sql(s"DESCRIBE FUNCTION $name").collect().map(_.getString(0)))
      .toOption.flatMap(_.collectFirst { case l if l.startsWith("Class: ") => l.drop(7) })

  private def assertAllResolve(s: SparkSession, how: String): Unit =
    GraftExtensions.functions.foreach { case (id, info, _) =>
      assert(sqlClass(s, id.funcName).contains(info.getClassName),
        s"${id.funcName} does not resolve through SQL $how")
    }

  test("every registered function resolves through SQL, after register and under spark.sql.extensions") {
    val names = GraftExtensions.functions.map(_._1.funcName)
    assert(names.nonEmpty && names.distinct == names)
    // a new session of a context built with the conf gets the
    // extension's functions injected into its fresh registry
    assert(spark.conf.get("spark.sql.extensions") == classOf[GraftExtensions].getName)
    assertAllResolve(spark.newSession(), "under spark.sql.extensions")
    // register on a session whose registry lacks them
    val bare = spark.newSession()
    GraftExtensions.functions.foreach(f => bare.sessionState.functionRegistry.dropFunction(f._1))
    GraftExtensions.functions.foreach { case (id, _, _) =>
      assert(sqlClass(bare, id.funcName).isEmpty, s"${id.funcName} still resolves after the drop")
    }
    GraftExtensions.register(bare)
    assertAllResolve(bare, "after register")
  }
}
