package graft.e2e

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark
import graft.core.{Config, Loader, OutputPlugin, Pipeline}

/** Every shipped example config (`examples/NAME.toml`) passes both
  * `check` and `run`, and `check` tells the truth about `run`: it
  * passes exactly when run does, and each sink's checked schema is the
  * schema of what run wrote (column names and types in order; nullability is not kept
  * by Parquet, so it is not compared). Each config runs from its own
  * temp copy, so outputs never land in the source tree. */
class ExamplesSpec extends AnyFunSuite {
  implicit lazy val spark: SparkSession = SharedSpark.spark

  private val examples = Paths.get("examples")
  private val events = Paths.get("/root/testdata/sf0.001/events.parquet")

  private def configs: Seq[Path] =
    Files.list(examples).iterator.asScala
      .filter(_.toString.endsWith(".toml")).toSeq.sortBy(_.toString)

  /** Fresh copy of one config (plus the user plugin sources it may
    * reference); `streaming.toml` gets its landing directory seeded. */
  private def stage(cfg: Path): Path = {
    val tmp = Files.createTempDirectory("example")
    val plugins = examples.resolve("plugins")
    Files.createDirectories(tmp.resolve("plugins"))
    Files.list(plugins).iterator.asScala.foreach(f =>
      Files.copy(f, tmp.resolve("plugins").resolve(f.getFileName)))
    if (cfg.getFileName.toString == "streaming.toml") {
      Files.createDirectories(tmp.resolve("landing"))
      Files.copy(events, tmp.resolve("landing/events.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
    }
    Files.copy(cfg, tmp.resolve(cfg.getFileName))
  }

  /** What a sink left on disk, read back the way a consumer would. */
  private def written(p: OutputPlugin): DataFrame = {
    val path = p.resolvePath(p.options("output_path").toString).toString
    p.name match {
      case "snapshot_writer" => graft.sources.Snapshots.read(spark, path, -1)
      case _ => spark.read.parquet(path)
    }
  }

  /** (name, type) in order; partition columns are read back last. */
  private def shape(s: StructType, partitionedBy: Seq[String]): Seq[(String, DataType)] = {
    val (parts, rest) = s.fields.toSeq.partition(f => partitionedBy.contains(f.name))
    (rest ++ parts).map(f => f.name -> f.dataType)
  }

  private def partitionColumns(p: OutputPlugin): Seq[String] =
    p.options.get("partition_by").toSeq.flatMap {
      case xs: Seq[_] => xs.map(_.toString)
      case s => Seq(s.toString)
    }

  test("all 17 shipped examples are staged") {
    assert(configs.size == 17, configs.map(_.getFileName).mkString(", "))
  }

  for (cfg <- configs) {
    test(s"examples/${cfg.getFileName}: check passes iff run passes; " +
        "each sink's checked schema is what run wrote") {
      val staged = stage(cfg)
      val config = Config.loadConfig(staged).fold(e => fail(e.getMessage), identity)
      val reg = Loader.loadPlugins(config, staged).fold(e => fail(e.getMessage), identity)

      val checked = Pipeline.fanOut(
        Pipeline.routeTransforms(reg.inputs.map(p => p.label -> p.dryRun()).toMap,
          reg.transforms, Pipeline.Check),
        reg.outputs, Pipeline.Check)
      val ran = Pipeline.runPipeline(reg.inputs, reg.transforms, reg.outputs,
        persistMultiOutput = config.pipelineOptions
          .get("persist_multi_output").forall(_.toString.toBoolean))

      assert(checked.isRight == ran.isRight,
        s"check: ${checked.left.toOption.map(_.getMessage)}; " +
          s"run: ${ran.left.toOption.map(_.getMessage)}")
      assert(ran.isRight, ran.left.toOption.map(_.getMessage))
      for ((sink, schema) <- reg.outputs.zip(checked.toOption.get)) {
        val parts = partitionColumns(sink)
        assert(shape(schema, parts) == shape(written(sink).schema, parts),
          s"sink '${sink.name}' (label '${sink.label}')")
      }
    }
  }
}
