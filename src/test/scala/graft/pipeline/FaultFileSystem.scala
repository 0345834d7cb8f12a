package graft.pipeline

import org.apache.hadoop.fs.{FileStatus, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import scala.collection.mutable

/** A local file system for fault injection, registered under its own
  * scheme through `fs.<scheme>.impl` ([[FaultFileSystem.withScheme]]).
  * Every `create`, `rename`, `delete` and `listStatus` on a path the
  * active predicate accepts is counted; an armed [[FaultFileSystem.Plan]]
  * makes the k-th such call of its method throw instead of running. With
  * no plan armed it only counts — a clean run measures the calls an
  * operation makes, and a sweep then faults each of them. */
class FaultFileSystem extends RawLocalFileSystem {
  override def getUri: java.net.URI = FaultFileSystem.Uri
  override def getScheme: String = FaultFileSystem.Scheme

  // every create and createNonRecursive overload opens its stream here
  override protected def createOutputStreamWithMode(
      f: Path, append: Boolean, permission: FsPermission): java.io.OutputStream = {
    FaultFileSystem.hit("create", f)
    super.createOutputStreamWithMode(f, append, permission)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    FaultFileSystem.hit("rename", src, dst)
    super.rename(src, dst)
  }
  override def delete(p: Path, recursive: Boolean): Boolean = {
    FaultFileSystem.hit("delete", p)
    super.delete(p, recursive)
  }
  override def listStatus(p: Path): Array[FileStatus] = {
    FaultFileSystem.hit("listStatus", p)
    super.listStatus(p)
  }
}

object FaultFileSystem {
  val Scheme = "graftfault"
  val Uri: java.net.URI = java.net.URI.create(s"$Scheme:///")
  val Methods: Seq[String] = Seq("create", "rename", "delete", "listStatus")

  /** Throw `error` at the `k`-th (1-based) call of `method` on a path
    * `matches` accepts. */
  final case class Plan(method: String, k: Int, matches: Path => Boolean,
                        error: String => Exception = new java.io.IOException(_))

  /** One counted call: its method, its path, and a rename's target. */
  final case class Call(method: String, path: String, dst: String)

  /** One active run: the paths it watches, its calls and its armed fault.
    * Concurrent runs watch disjoint paths. */
  private final class Run(val matches: Path => Boolean, var plan: Option[Plan]) {
    val calls = mutable.ArrayBuffer.empty[Call]
    val counts = mutable.Map.empty[String, Int].withDefaultValue(0)
    var fired = false
  }

  private val runs = mutable.ArrayBuffer.empty[Run] // guarded by this

  private[pipeline] def hit(method: String, p: Path, dst: Path = null): Unit =
    synchronized {
      runs.find(_.matches(p)).foreach { r =>
        r.calls += Call(method, p.toUri.getPath, Option(dst).map(_.toUri.getPath).orNull)
        r.counts(method) += 1
        val k = r.counts(method)
        r.plan.filter(f => f.method == method && f.k == k).foreach { f =>
          r.plan = None
          r.fired = true
          throw f.error(s"injected $method fault #$k at $p")
        }
      }
    }

  private def during[A](run: Run)(body: => A): scala.util.Try[A] = {
    synchronized(runs += run)
    try scala.util.Try(body) finally synchronized(runs -= run)
  }

  /** Run `body` counting the calls on paths `pred` accepts, in order. */
  def record(pred: Path => Boolean)(body: => Unit): Seq[Call] = {
    val run = new Run(pred, None)
    during(run)(body).get
    synchronized(run.calls.toList)
  }

  /** Run `body` with `p` armed. @return the body's outcome and whether
    * the fault fired. */
  def inject[A](p: Plan)(body: => A): (scala.util.Try[A], Boolean) = {
    val run = new Run(p.matches, Some(p))
    val out = during(run)(body)
    (out, synchronized(run.fired))
  }

  /** Register the scheme on `conf` (uncached, so every lookup sees this
    * class) for the duration of `body`. */
  def withScheme[A](conf: org.apache.hadoop.conf.Configuration)(body: => A): A = {
    val impl = s"fs.$Scheme.impl"
    val noCache = s"fs.$Scheme.impl.disable.cache"
    conf.set(impl, classOf[FaultFileSystem].getName)
    conf.setBoolean(noCache, true)
    try body
    finally { conf.unset(impl); conf.unset(noCache) }
  }
}
