package graft.fs

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Path => JPath}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

/** [[GraftRawLocalFileSystem]] leaves the filesystem exactly as the
  * stock `RawLocalFileSystem` does: the same mode bits after
  * `setPermission` (which stock Hadoop applies by running `chmod`) and
  * the same `getFileLinkStatus` answers (stock: `readlink`).
  */
class LocalFileSystemsSpec extends AnyFunSuite {

  private def init(fs: RawLocalFileSystem): RawLocalFileSystem = {
    fs.initialize(URI.create("file:///"), new Configuration())
    fs
  }
  private val stock = init(new RawLocalFileSystem)
  private val graft = init(new GraftRawLocalFileSystem)

  private def octal(s: String): Int = Integer.parseInt(s, 8)
  private def mode(p: JPath): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Int]

  private val kinds: Seq[(String, JPath => JPath)] = Seq(
    "file" -> (d => Files.createFile(d.resolve("f"))),
    "directory" -> (d => Files.createDirectory(d.resolve("d"))),
    "setgid directory" -> { d =>
      val p = Files.createDirectory(d.resolve("g"))
      Files.setAttribute(p, "unix:mode", Int.box(octal("2755")))
      assert((mode(p) & octal("2000")) != 0, "setgid bit did not stick")
      p
    })

  for ((kind, make) <- kinds)
    test(s"setPermission on a $kind leaves the mode bits stock chmod leaves") {
      for (perm <- Seq("0644", "0755", "0700", "1777")) withClue(s"mode $perm: ") {
        val dir = Files.createTempDirectory("graft_fs_perm")
        val viaStock = make(Files.createDirectory(dir.resolve("stock")))
        val viaGraft = make(Files.createDirectory(dir.resolve("graft")))
        val p = new FsPermission(octal(perm).toShort)
        stock.setPermission(new Path(viaStock.toUri), p)
        graft.setPermission(new Path(viaGraft.toUri), p)
        assert(mode(viaGraft).toOctalString === mode(viaStock).toOctalString)
      }
    }

  /** What `getFileLinkStatus` tells a caller: link flag, target, length
    * and path, or the missing-file error. */
  private def linkStatus(fs: RawLocalFileSystem, path: Path) =
    try {
      val st = fs.getFileLinkStatus(path)
      Right((st.isSymlink, if (st.isSymlink) Some(st.getSymlink) else None, st.getLen, st.getPath))
    } catch { case e: FileNotFoundException => Left(e.getMessage) }

  test("getFileLinkStatus matches stock for a file, symlinks and a missing path") {
    val dir = Files.createTempDirectory("graft_fs_link")
    val file = Files.write(dir.resolve("f"), "abc".getBytes)
    val link = Files.createSymbolicLink(dir.resolve("l"), file)
    val dangling = Files.createSymbolicLink(dir.resolve("d"), dir.resolve("gone"))
    val missing = dir.resolve("missing")
    // a plain path reaches stock's symlink branch; a file: URI does not
    assert(stock.getFileLinkStatus(new Path(link.toString)).isSymlink)
    for (p <- Seq(file, link, dangling, missing); path <- Seq(new Path(p.toString), new Path(p.toUri)))
      withClue(s"$path: ")(assert(linkStatus(graft, path) === linkStatus(stock, path)))
    assert(linkStatus(graft, new Path(missing.toString)).isLeft)
  }
}
