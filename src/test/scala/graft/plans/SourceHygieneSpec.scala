package graft.plans

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Source-level hygiene gates enforced as tests, not round notes.
  *
  * Every custom Catalyst expression in this engine implements
  * `doGenCode` — an interpreted `CodegenFallback` in a hot path breaks
  * whole-stage codegen for the entire stage containing it, which is a
  * silent 2-10× regression at 100 TB. The grep lives here so a future
  * expression can't quietly take the fallback shortcut.
  *
  * Session setup has one home each: sessions are built by
  * HarnessSession (which installs GraftFunctions as an extension), the
  * function table is registered by hand only where SparkEntry's
  * callers may bring their own session (Tables), and the pruning rule is installed only by GraftCatalog.
  *
  * The size-adaptive operators choose their arm in one place: SizeGate
  * is the only reader of the plan estimate for that purpose, and no
  * operator takes a size-threshold parameter.
  */
class SourceHygieneSpec extends AnyFunSuite {

  private def mainSources: Seq[Path] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root: $root missing")
    Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala")).toSeq
  }

  test("zero CodegenFallback in src/main (every Expression has doGenCode)") {
    val offenders = mainSources.filter { p =>
      new String(Files.readAllBytes(p)).contains("CodegenFallback")
    }
    assert(offenders.isEmpty,
      s"CodegenFallback found in: ${offenders.mkString(", ")} — implement doGenCode instead")
  }

  test("session setup lives in one place per concern") {
    // (pattern, the only file allowed to contain it)
    val rules = Seq(
      "SparkSession.builder()" -> "HarnessSession.scala",
      "GraftFunctions.registerAll(" -> "Tables.scala",
      "extraOptimizations" -> "TimePartitionPruning.scala",
      "TimePartitionPruning.install(" -> "GraftCatalog.scala")
    val offenders = for {
      p <- mainSources
      src = new String(Files.readAllBytes(p))
      (pattern, home) <- rules
      if src.contains(pattern) && p.getFileName.toString != home
    } yield s"$pattern in $p (only $home may)"
    assert(offenders.isEmpty, offenders.mkString("; "))
  }

  test("arm choice reads the plan estimate only in SizeGate") {
    // Multimodal's read sizes partitions; it chooses no arm
    val estimateHomes = Set("SizeGate.scala", "Multimodal.scala")
    val offenders = mainSources.flatMap { p =>
      val src = new String(Files.readAllBytes(p))
      val name = p.getFileName.toString
      (if (src.contains("optimizedPlan.stats.sizeInBytes") &&
          !estimateHomes(name)) Seq(s"plan estimate read in $p") else Nil) ++
        // the deleted threshold knobs, spelled as patterns so a grep of
        // the tree for their names stays empty
        Seq("cutover[B]ytes", "driverCutover[E]dges")
          .filter(_.r.findFirstIn(src).isDefined).map(k => s"$k in $p")
    }
    assert(offenders.isEmpty, offenders.mkString("; "))
  }

  test("no ??? / TODO / FIXME stubs in src/main") {
    val offenders = mainSources.filter { p =>
      val s = new String(Files.readAllBytes(p))
      s.contains("???") || s.contains("TODO") || s.contains("FIXME")
    }
    assert(offenders.isEmpty,
      s"stub markers found in: ${offenders.mkString(", ")}")
  }
}
