package graft.sources

import java.nio.file.{Files, Path, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** Every `VersionedTable` commit after version 0 retries in one of two
  * loops — `commitRewrite` (the copy-on-write writers and the identity
  * append) or the stage-once `commitWithRetry` (everything else) — and
  * the copy-on-write writers share one phase-1 touched-file probe
  * (`touchedLines`). A writer that commits or retries on its own, or a
  * second copy of the `_metadata.file_path` probe, fails here. */
class CommitPathGuardSpec extends AnyFunSuite {

  private val cowWriters = Seq("replaceWhere", "merge", "mergeActions",
    "applyChanges", "applyChangesGuarded", "delete", "update")

  private lazy val source: String = {
    // `<project>/target/scala-x/classes` holds the engine's classes
    val classes = Paths.get(classOf[VersionedTable.Write]
      .getProtectionDomain.getCodeSource.getLocation.toURI)
    val f: Path = classes.getParent.getParent.getParent
      .resolve("src/main/scala/graft/sources/VersionedTable.scala")
    assert(Files.isRegularFile(f), s"no source at $f")
    Files.readString(f)
  }

  /** The top-level members of `object VersionedTable` in file order:
    * (def name, or "" for other members) → code lines, comments
    * dropped. A member starts at a line indented exactly two spaces. */
  private lazy val members: Seq[(String, Seq[String])] = {
    val Def = """ {2}(?:(?:private|protected|final|override)(?:\[\w+\])? )*def (\w+).*""".r
    val out = Seq.newBuilder[(String, Seq[String])]
    var name = ""
    val body = Seq.newBuilder[String]
    source.linesIterator.foreach { line =>
      val t = line.trim
      if (!(t.startsWith("//") || t.startsWith("*") || t.startsWith("/*"))) {
        val code = line.replaceAll("""\s//.*$""", "")
        if (code.startsWith("  ") && !code.startsWith("   ") && !t.startsWith("}")) {
          out += name -> body.result()
          body.clear()
          name = code match { case Def(n) => n; case _ => "" }
        }
        body += code
      }
    }
    out += name -> body.result()
    out.result()
  }

  private def bodyOf(name: String): String = {
    val hits = members.filter(_._1 == name)
    assert(hits.size == 1, s"expected one def $name, found ${hits.size}")
    hits.head._2.mkString("\n")
  }

  test("every copy-on-write writer commits through commitRewrite, " +
    "never commitManifest") {
    cowWriters.foreach { w =>
      val body = bodyOf(w)
      assert(body.contains("commitRewrite("), s"$w must use commitRewrite")
      assert(!body.contains("commitManifest("),
        s"$w calls commitManifest directly")
    }
    assert(bodyOf("commitRewrite").contains("commitManifest("))
  }

  test("the _metadata.file_path touched-file probe lives only in " +
    "touchedLines (and mergeActions' by-source pass)") {
    // the stats and bloom folds group by the path as "__p"; every other
    // use of the path column is a phase-1 probe
    val probes = for {
      (name, lines) <- members
      line <- lines
      if line.contains("_metadata.file_path") && !line.contains("\"__p\"")
    } yield name
    assert(probes == Seq("touchedLines", "mergeActions"), probes)
  }

  /** The members whose code lines match `pattern`, in file order. */
  private def membersMatching(pattern: String): Seq[String] = {
    val r = pattern.r
    members.collect {
      case (name, lines) if lines.exists(r.findFirstIn(_).isDefined) => name
    }
  }

  test("only the two retry loops and the two version-0 commits call " +
    "commitManifest") {
    assert(membersMatching("""\bcommitManifest\(""").filterNot(
      _ == "commitManifest") ==
      Seq("commitWithRetry", "commitRewrite", "createEmpty", "shallowCloneAt"))
  }

  test("a lost commit race is caught only in the two retry loops; the " +
    "other catches are createEmpty's and stagePartitioned's put-if-absent " +
    "links") {
    assert(membersMatching("""case \w+: (java\.nio\.file\.)?FileAlreadyExistsException""") ==
      Seq("commitWithRetry", "commitRewrite", "createEmpty", "stagePartitioned"))
    assert(membersMatching("""attempt \+= 1""") ==
      Seq("commitWithRetry", "commitRewrite"))
  }

  test("the identity append is a commitRewrite plan") {
    assert(bodyOf("appendIdentity").contains("commitRewrite("))
  }
}
