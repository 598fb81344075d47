package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{FileAlreadyExistsException, Files, Path, StandardCopyOption, StandardOpenOption}
import scala.jdk.CollectionConverters._

/** The one owner of the table log's small text files — manifests, the
  * props/constraints/refs/bloom/NDV/stats sidecars, the append-only
  * row-count and bucket sidecars, view registry entries, txn intent/done
  * records and follow cursors. [[TableLog]], [[MatView]] and [[Txn]] read
  * and write them only through here, so each discipline is written once:
  *
  *  - a whole-file sidecar is REPLACED atomically ([[replace]]: a temp file
  *    in the same directory, then a rename over the target) — a reader sees
  *    the old content or the new, never a truncated file;
  *  - a manifest is CREATED put-if-absent ([[create]]: a temp file, then a
  *    hard link — `link(2)` fails if the target exists, and the link shares
  *    the fully-written temp's inode);
  *  - an append-only sidecar APPENDS newline-terminated lines with
  *    `O_APPEND` ([[append]]), so concurrent writers never clobber each
  *    other's lines;
  *  - a reader drops blank lines ([[lines]]), and an append-only reader also
  *    drops an unterminated tail ([[appended]]) — a torn append is never
  *    read as a short line. Callers drop lines whose fields fail to parse.
  *
  * Replaced and created files hold `lines.mkString("\n")` (no trailing
  * newline); appended lines each end in `\n`.
  */
private[sources] object LogText {

  /** the non-blank lines of `p`, which must exist (a manifest) */
  def read(p: Path): Seq[String] =
    Files.readAllLines(p, UTF_8).asScala.toSeq.filter(_.nonEmpty)

  /** the non-blank lines of `p`; empty when the file is absent */
  def lines(p: Path): Seq[String] = if (Files.exists(p)) read(p) else Seq.empty

  /** the complete lines of append-only `p`: a last line without its `\n`
    * (an append torn by a crash) is not one
    */
  def appended(p: Path): Seq[String] =
    if (!Files.exists(p)) Seq.empty
    else {
      val s = new String(Files.readAllBytes(p), UTF_8)
      s.substring(0, s.lastIndexOf('\n') + 1).split('\n').toSeq.filter(_.nonEmpty)
    }

  /** `key|value` lines split at the first `|`; a line without one is dropped */
  def pairs(lines: Seq[String]): Seq[(String, String)] =
    lines.flatMap { l =>
      val i = l.indexOf('|')
      if (i < 0) None else Some(l.substring(0, i) -> l.substring(i + 1))
    }

  /** atomically replace `p` with `lines` */
  def replace(p: Path, lines: Seq[String]): Unit = {
    val tmp = staged(p, lines)
    Files.move(tmp, p, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    ()
  }

  /** create `p` holding `lines` unless it exists; false when it did */
  def create(p: Path, lines: Seq[String]): Boolean = {
    val tmp = staged(p, lines)
    try { Files.createLink(p, tmp); true }
    catch { case _: FileAlreadyExistsException => false }
    finally Files.deleteIfExists(tmp)
  }

  /** append `lines` to `p`, each terminated by `\n` */
  def append(p: Path, lines: Seq[String]): Unit =
    if (lines.nonEmpty) {
      Files.createDirectories(p.toAbsolutePath.getParent)
      Files.write(p, lines.mkString("", "\n", "\n").getBytes(UTF_8),
        StandardOpenOption.CREATE, StandardOpenOption.APPEND)
    }

  /** `lines` written to a `.`-prefixed temp file beside `p` */
  private def staged(p: Path, lines: Seq[String]): Path = {
    Files.createDirectories(p.toAbsolutePath.getParent)
    val tmp = p.resolveSibling(s".${p.getFileName}.${java.util.UUID.randomUUID()}.tmp")
    Files.write(tmp, lines.mkString("\n").getBytes(UTF_8))
  }
}
