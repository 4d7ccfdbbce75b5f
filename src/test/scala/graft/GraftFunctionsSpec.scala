package graft

import scala.collection.mutable.ArrayBuffer
import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, Logger => CoreLogger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.sql.catalyst.FunctionIdentifier
import graft.functions.GraftFunctions

/** `GraftFunctions.register` runs on every operator construction, so it
  * must be idempotent: a session that already holds the functions keeps
  * them as they are and logs nothing. */
class GraftFunctionsSpec extends SparkSuite {

  test("a second register leaves the registry unchanged and logs no replace WARN") {
    val registry = spark.sessionState.functionRegistry
    GraftFunctions.register(spark)
    val names = GraftFunctions.builders.map(_._1).toSeq
    def infos() = names.map(n => registry.lookupFunction(FunctionIdentifier(n)).get)
    val before = infos()

    val messages = ArrayBuffer.empty[String]
    val capture = new AbstractAppender("graft-functions-capture", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        messages.synchronized { messages += e.getMessage.getFormattedMessage; () }
    }
    capture.start()
    val root = LogManager.getRootLogger.asInstanceOf[CoreLogger]
    root.addAppender(capture)
    try GraftFunctions.register(spark)
    finally { root.removeAppender(capture); capture.stop() }

    // a replacement installs a fresh ExpressionInfo, so identity shows it
    before.zip(infos()).zip(names).foreach { case ((b, a), n) =>
      assert(b eq a, s"$n was re-registered")
    }
    val replaced = messages.filter(_.contains("replaced a previously registered function"))
    assert(replaced.isEmpty, replaced.mkString("\n"))
  }
}
