package graft

import java.io.File
import java.nio.file.Files
import java.util.UUID

import graft.streaming.FaceState
import org.scalatest.funsuite.AnyFunSuite

/** [[graft.streaming.FaceState]], the one state cache behind the stream
  * faces: one build per (face, input dir), a dir of its own for every
  * face, and no other streaming module keeping a cache or temp dir. */
class FaceStateSpec extends AnyFunSuite {

  private def input(): String = s"/no/such/input-${UUID.randomUUID()}"

  test("build runs once per (face, dir) and later calls return its dir") {
    val dir = input()
    var builds = 0
    def call() = FaceState("spec-once", dir) { d =>
      builds += 1
      Files.createDirectories(new File(d).toPath)
    }
    val first = call()
    assert(new File(first).isDirectory)
    assert(call() === first)
    assert(builds === 1)
    val other = FaceState("spec-once", input())(_ => builds += 1)
    assert(other != first && builds == 2, "a new input dir builds anew")
  }

  test("two faces on one input dir get two distinct dirs") {
    val dir = input()
    val ingest = FaceState("spec-ingest", dir)(_ => ())
    val takedown = FaceState("spec-takedown", dir)(_ => ())
    assert(ingest !== takedown)
    assert(new File(ingest).getParent !== new File(takedown).getParent,
      "a mutating face must not share another face's temp dir")
  }

  test("only FaceState keeps a state cache or creates a temp dir") {
    val dir = new File("src/main/scala/graft/streaming")
    val files = dir.listFiles().filter(_.getName.endsWith(".scala")).toSeq
    assert(files.size > 10, s"streaming sources not found under $dir")
    def text(f: File) = new String(Files.readAllBytes(f.toPath), "UTF-8")
    val names = Seq("TrieMap", "benchTempDir", "createTempDirectory")
    val forks = for {
      f <- files if f.getName != "FaceState.scala"
      n <- names if text(f).contains(n)
    } yield s"${f.getName}: $n"
    assert(forks.isEmpty, "state caches outside FaceState")
  }
}
