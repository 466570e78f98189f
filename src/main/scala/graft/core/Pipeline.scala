package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType
import org.slf4j.LoggerFactory

/** Pipeline execution engine, mirroring the reference's
  * /root/reference/packages/cryoflow-core/cryoflow_core/pipeline.py.
  *
  * All data-plane types are lazy: a `DataFrame` is an analyzed Catalyst
  * logical plan, so "executing" the transform chain only composes one
  * plan that Catalyst later optimizes (pushdown, pruning, join
  * strategy) as a whole at sink time — the exact architecture the
  * reference gets from Polars lazy frames (docs/plugin_development.md:
  * 536-555). Nothing here runs a Spark job except OutputPlugin.execute.
  *
  * `run` and `check` share one label-routed transform fold and one
  * output fan-out, generic over the stream value: a `DataFrame` for
  * run ([[Run]]), a `StructType` for check ([[Check]]). Check
  * therefore routes every label exactly as run does.
  */
object Pipeline {
  private val log = LoggerFactory.getLogger(getClass)

  /** Labeled multi-stream map (reference pipeline.py:13-14). */
  type Streams[A] = Map[String, Either[Throwable, A]]
  type LabeledDataMap = Streams[DataFrame]
  type LabeledSchemaMap = Streams[StructType]

  /** What one pass does at each plugin: `transform` steps a stream
    * value (a multi-stream plugin also sees the other streams),
    * `sink` consumes one. */
  final case class Pass[A, B](
      verb: String,
      transform: (TransformPlugin, A, Streams[A]) => Either[Throwable, A],
      sink: (OutputPlugin, A) => Either[Throwable, B])

  /** `graft run`: plans flow through `execute`; sinks run the jobs. */
  val Run: Pass[DataFrame, Unit] = Pass("Executing",
    {
      case (m: MultiStreamTransformPlugin, df, streams) => m.executeWith(df, streams)
      case (p, df, _) => p.execute(df)
    },
    (p, df) => p.execute(df))

  /** `graft check`: schemas flow through `dryRun`; each sink validates
    * its label's schema and returns what it would write. */
  val Check: Pass[StructType, StructType] = Pass("Dry-running",
    {
      case (m: MultiStreamTransformPlugin, s, schemas) => m.dryRunWith(s, schemas)
      case (p, s, _) => p.dryRun(s)
    },
    (p, s) => p.dryRun(s))

  /** A9 — uniform schema extraction (pipeline.py:17-30). `df.schema`
    * is always available from the analyzed plan; no action. */
  def extractSchema(df: DataFrame): Either[Throwable, StructType] =
    Errors.safe(df.schema)

  /** A10/A14 — labeled transform routing (pipeline.py:33-58,
    * 143-162): a left fold in config order; each transform steps the
    * stream matching its label and stops that stream at its first
    * failure. A missing label STORES a Left under that label (the
    * pipeline continues — note the asymmetry with [[fanOut]], which
    * short-circuits).
    */
  def routeTransforms[A](streams: Streams[A], transforms: Seq[TransformPlugin],
                         pass: Pass[A, _]): Streams[A] =
    transforms.zipWithIndex.foldLeft(streams) { case (acc, (p, i)) =>
      acc.get(p.label) match {
        case Some(entry) =>
          acc.updated(p.label, entry.flatMap { v =>
            log.info(s"[${i + 1}/${transforms.size}] ${pass.verb} transform: " +
              s"${p.name} (label: ${p.label})")
            pass.transform(p, v, acc)
          })
        case None =>
          acc.updated(p.label, Left(new NoSuchElementException(
            s"No input data with label '${p.label}' for transform plugin '${p.name}'")))
      }
    }

  /** A12/A13/A15 — output fan-out (pipeline.py:97-140, 165-186): each
    * sink receives its label's stream — never another sink's result —
    * in config order; a missing label or a failed sink stops the
    * fan-out. Returns every sink's result in order.
    */
  def fanOut[A, B](streams: Streams[A], outputs: Seq[OutputPlugin],
                   pass: Pass[A, B]): Either[Throwable, Seq[B]] =
    outputs.zipWithIndex.foldLeft[Either[Throwable, Vector[B]]](Right(Vector.empty)) {
      case (acc, (p, i)) =>
        acc.flatMap { done =>
          streams.get(p.label) match {
            case Some(entry) =>
              log.info(s"[${i + 1}/${outputs.size}] ${pass.verb} output: " +
                s"${p.name} (label: ${p.label})")
              entry.flatMap(pass.sink(p, _)).map(done :+ _)
            case None =>
              Left(new NoSuchElementException(
                s"No data with label '${p.label}' for output plugin '${p.name}'"))
          }
        }
    }

  /** A16 — full pipeline (pipeline.py:188-212): inputs build the
    * labeled map (later inputs with the same label overwrite earlier,
    * matching dict semantics), transforms route by label, outputs
    * sink by label.
    *
    * `persistMultiOutput` (DEFAULT since round 10) caches each stream
    * that MORE THAN ONE sink consumes, for the duration of the
    * fan-out: without it every sink re-executes the whole upstream
    * plan (reference behavior — Polars re-optimizes per `sink_*`
    * call), which doubles a 100 TB dedup chain for the price of a
    * second copy of its OUTPUT. Labels with a single sink are never
    * cached (caching would only cost memory), so the flag is inert
    * for every 1-sink-per-label config. Opt out with
    * `persist_multi_output = false` when a label's output is larger
    * than the compute that produced it. Results are identical either
    * way.
    */
  def runPipeline(inputs: Seq[InputPlugin],
                  transforms: Seq[TransformPlugin],
                  outputs: Seq[OutputPlugin],
                  persistMultiOutput: Boolean = true)(
      implicit spark: SparkSession): Either[Throwable, Unit] = {
    val dataMap: LabeledDataMap = inputs.map { p =>
      log.info(s"Executing input: ${p.name} (label: ${p.label})")
      p.label -> p.execute()
    }.toMap
    val transformed = routeTransforms(dataMap, transforms, Run)
    val multi: Set[String] =
      if (persistMultiOutput)
        outputs.groupBy(_.label).filter(_._2.size > 1).keySet
      else Set.empty
    // streaming frames are never persisted (persist throws on them;
    // each streaming sink is its own writeStream query anyway)
    val effective: LabeledDataMap = transformed.map { case (l, e) =>
      l -> (if (multi(l)) e.map(df => if (df.isStreaming) df else df.persist())
            else e)
    }
    val result = fanOut(effective, outputs, Run).map(_ => ())
    effective.foreach { case (l, e) =>
      if (multi(l)) e.foreach(df => Errors.safe(df.unpersist()))
    }
    result
  }

  /** A17 — full dry-run pipeline (pipeline.py:215-238): the same
    * routing as [[runPipeline]] over the label→schema map, so check
    * passes exactly when run's plans resolve. Returns the schema the
    * LAST sink would write.
    */
  def runDryRunPipeline(inputs: Seq[InputPlugin],
                        transforms: Seq[TransformPlugin],
                        outputs: Seq[OutputPlugin])(
      implicit spark: SparkSession): Either[Throwable, StructType] = {
    val schemaMap: LabeledSchemaMap = inputs.map { p =>
      log.info(s"Dry-running input: ${p.name} (label: ${p.label})")
      p.label -> p.dryRun()
    }.toMap
    fanOut(routeTransforms(schemaMap, transforms, Check), outputs, Check)
      .flatMap(_.lastOption.toRight(
        new NoSuchElementException("No output plugin to validate")))
  }
}
