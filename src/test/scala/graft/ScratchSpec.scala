package graft

import java.io.File
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** The scratch-fixture rule every per-data-dir table builder goes through:
  * build once per (JVM, data dir), wipe only the owned paths, memoize
  * nothing on failure.
  */
class ScratchSpec extends AnyFunSuite {

  private def touch(path: String): File = {
    val f = new File(path)
    f.getParentFile.mkdirs()
    Files.write(f.toPath, Array[Byte](1))
    f
  }

  test("a fixture builds once per data dir and separately for another dir") {
    val fx = Scratch.fixture[String]("graft_scratchspec_once", "t")
    var builds = 0
    def get(dir: String) = fx(dir) { root => builds += 1; root + "/t" }
    val a = get("a")
    assert(get("a") == a && builds == 1, "a second call must not rebuild")
    val b = get("b")
    assert(builds == 2 && b != a, "another data dir builds its own fixture")
    assert(a == Scratch.dir("graft_scratchspec_once", "a") + "/t")
    Seq("a", "b").foreach(d => Scratch.wipe(Scratch.dir("graft_scratchspec_once", d)))
  }

  test("a fixture wipes only the paths it owns under a shared root") {
    val root = Scratch.dir("graft_scratchspec_own", "x")
    Scratch.wipe(root)
    val owned = touch(s"$root/mine/part-0")
    val sibling = touch(s"$root/theirs/part-0")
    val fx = Scratch.fixture[String]("graft_scratchspec_own", "mine")
    var sawOwned = true
    fx("x") { r => sawOwned = owned.exists(); r }
    assert(!sawOwned, "the owned path must be wiped before the build")
    assert(sibling.exists(), "a sibling under the shared root must survive")
    Scratch.wipe(root)
  }

  test("a build may call another fixture with the same data dir") {
    val inner = Scratch.fixture[String]("graft_scratchspec_inner")
    val outer = Scratch.fixture[String]("graft_scratchspec_outer")
    val got = outer("x") { r => inner("x")(identity) + "|" + r }
    assert(got == Scratch.dir("graft_scratchspec_inner", "x") + "|" +
      Scratch.dir("graft_scratchspec_outer", "x"))
  }

  test("a throwing build memoizes nothing; the next call builds again") {
    val fx = Scratch.fixture[Int]("graft_scratchspec_fail")
    var builds = 0
    intercept[IllegalStateException] {
      fx("x") { _ => builds += 1; throw new IllegalStateException("boom") }
    }
    assert(fx("x") { _ => builds += 1; 7 } == 7 && builds == 2)
    assert(fx("x") { _ => builds += 1; 8 } == 7 && builds == 2)
  }

  test("wipe deletes a tree and is a no-op on an absent path") {
    val root = Scratch.dir("graft_scratchspec_wipe", "x")
    touch(s"$root/a/b/c")
    Scratch.wipe(root)
    assert(!new File(root).exists())
    Scratch.wipe(root)
    assert(!new File(root).exists())
  }
}
