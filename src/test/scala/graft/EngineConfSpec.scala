package graft

import org.scalatest.funsuite.AnyFunSuite

/** Engine code changes no session conf. A session is shared with every
  * thread and tenant that plans in it, so a value an operator sets there,
  * even for the span of one call, reaches their queries too. An operator
  * that needs another value plans in a session of its own, as
  * `Dedup.probeMinhashIndex` does. The runners (Bench, Soak, Verify, ...)
  * are measurement code and are not checked.
  */
class EngineConfSpec extends AnyFunSuite {
  private val main = new java.io.File("src/main/scala/graft")
  private val engineDirs =
    Seq("operators", "functions", "sources", "plans", "streaming", "multimodal", "sql")

  /** The methods that may set conf, by file, with the reason. */
  private val exempt = Map(
    // sets up the session it creates, before anyone plans in it
    "GraftSession.scala" -> "builder",
    // the user's explicit call to apply advice to their own session
    "SkewAdvisor.scala" -> "applyTo")

  private val setter = """\bconf\s*\.\s*(set|unset)\s*\(""".r

  private def sources(f: java.io.File): Seq[java.io.File] =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(sources)
    else if (f.getName.endsWith(".scala")) Seq(f) else Nil

  /** `text` with the body of `def name` (first `{` to its match) cut out,
    * and the cut body.
    */
  private def cut(text: String, name: String): (String, String) = {
    val at = ("""\bdef\s+""" + name + """\b""").r.findFirstMatchIn(text)
      .getOrElse(fail(s"exempt method $name not found")).start
    val open = text.indexOf('{', at)
    var depth = 0
    val close = (open until text.length).find { i =>
      if (text(i) == '{') depth += 1 else if (text(i) == '}') depth -= 1
      depth == 0
    }.getOrElse(fail(s"unbalanced braces in $name"))
    (text.take(open) + text.drop(close + 1), text.slice(open, close + 1))
  }

  test("engine code sets no session conf outside the exempt methods") {
    val dirs = engineDirs.map(new java.io.File(main, _))
    assert(dirs.forall(sources(_).nonEmpty),
      s"engine sources not found under ${main.getAbsolutePath}")
    val files = dirs.flatMap(sources) :+ new java.io.File(main, "GraftSession.scala")
    val hits = files.flatMap { f =>
      val text = scala.io.Source.fromFile(f, "UTF-8").mkString
      val checked = exempt.get(f.getName).fold(text)(cut(text, _)._1)
      setter.findAllMatchIn(checked).map(m => s"${f.getName}: ${m.matched}")
    }
    assert(hits.isEmpty, s"engine code sets session conf: ${hits.mkString("; ")}")
  }

  test("the guard sees a conf call split across lines") {
    val advisor = sources(new java.io.File(main, "operators"))
      .find(_.getName == "SkewAdvisor.scala").get
    val (_, body) = cut(scala.io.Source.fromFile(advisor, "UTF-8").mkString, "applyTo")
    assert(setter.findAllMatchIn(body).size == 3)
  }
}
