package graft

import java.io.File

/** The one root of every default path in `src/`: the checkout (scratch,
  * warehouse and artifacts under `target/`) and the harness test data. */
object PathRoot {
  /** The nearest directory at or above this class's location that holds
    * `build.sbt` (sbt loads it from `target/`, perfbench from
    * `.bench_build/`); the working directory for a build loaded from
    * outside any checkout. */
  lazy val Checkout: String =
    scala.util.Try(new File(getClass.getProtectionDomain.getCodeSource.getLocation.toURI))
      .toOption.iterator.flatMap(Iterator.iterate(_)(_.getParentFile).takeWhile(_ != null))
      .find(d => new File(d, "build.sbt").isFile)
      .fold(sys.props("user.dir"))(_.getPath)

  def Target: String = s"$Checkout/target"

  /** The harness test data: one `sf<scale>` directory per scale factor. */
  val TestData = "/root/testdata"
}
