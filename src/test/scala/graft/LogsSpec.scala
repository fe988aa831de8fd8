package graft

import org.scalatest.funsuite.AnyFunSuite

class LogsSpec extends AnyFunSuite {
  test("every quieted logger names a class Spark ships") {
    val loader = getClass.getClassLoader
    val missing = Logs.noisy.filter { name =>
      try { Class.forName(name, false, loader); false }
      catch { case _: ClassNotFoundException => true }
    }
    assert(missing.isEmpty, s"no such class: $missing")
  }
}
