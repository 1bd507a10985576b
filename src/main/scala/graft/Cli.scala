package graft

import java.io.PrintStream

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.config.{PipelineCfg, PipelineConfigLoader, PlatformCfg, PlatformConfigLoader}
import graft.streaming._

/** Operator-facing pipeline CLI — the reference's `cdc` command surface
  * (`cli.py:42-192`), re-expressed over the Spark engine:
  *
  *   - `validate <pipeline.yaml>`: load + report config errors
  *     (`cli.py:42-72`)
  *   - `deploy <pipeline.yaml> [--connect-url U]`: provision transport
  *     channels and register the Debezium connector with
  *     rollback-on-FAILED (`cli.py:75-97`)
  *   - `undeploy <pipeline.yaml> [--connect-url U]`: teardown
  *     (`cli.py:100-116`)
  *   - `health <pipeline.yaml> [--connect-url U]`: component health
  *     table, exit 1 when any probe fails (`cli.py:119-139`)
  *   - `consume <pipeline.yaml>`: debug console consumer printing
  *     topic/partition/offset/key/value per event (`cli.py:142-166`)
  *   - `run <pipeline.yaml> [--follow]`: full pipeline; AvailableNow
  *     drain by default, `--follow` keeps a 1 s micro-batch trigger
  *     running (`cli.py:169-192`)
  *
  * Lakehouse table operations live in [[LakehouseCli]] (the reference's
  * `cdc lakehouse` sub-app).
  *
  * `run(args, out, …)` returns the exit code and takes the output
  * stream + optional SparkSession so specs can drive every command
  * in-process against live stubs; `main` wires the real ones.
  */
object Cli {

  def main(args: Array[String]): Unit = sys.exit(run(args.toIndexedSeq, Console.out))

  private def usage(out: PrintStream): Int = {
    out.println("usage: graft.Cli <validate|deploy|undeploy|health|consume|run> <pipeline.yaml> " +
      "[--platform-config PATH] [--connect-url URL] [--follow]\n" +
      "       graft.Cli lakehouse <snapshots|query|rollback> <tableDir> ...")
    2
  }

  def run(args: Seq[String], out: PrintStream,
      sparkOpt: Option[SparkSession] = None): Int = {
    if (args.isEmpty) return usage(out)
    // lakehouse sub-app (the reference's `cdc lakehouse …` typer
    // sub-app, `cli.py:251-366`) — positional args pass through
    if (args.head == "lakehouse") {
      val s = sparkOpt.getOrElse(SparkEntry.session("graft-cli", defaultCpus = 4))
      return LakehouseCli.run(args.tail, out, s)
    }
    // flag grammar: `--name=value` and `--name value` both work (the
    // usage text shows the space form); unknown flags are an error, not
    // silently dropped into the positionals
    val valueFlags = Set("platform-config", "connect-url")
    val flagVals = scala.collection.mutable.Map.empty[String, String]
    val positional = scala.collection.mutable.ArrayBuffer.empty[String]
    var follow = false
    val rest = args.tail
    var i = 0
    while (i < rest.length) {
      val a = rest(i)
      if (a == "--follow") follow = true
      else if (a.startsWith("--")) {
        val body = a.stripPrefix("--")
        val eq = body.indexOf('=')
        if (eq >= 0 && valueFlags(body.take(eq))) flagVals(body.take(eq)) = body.drop(eq + 1)
        else if (eq < 0 && valueFlags(body) && i + 1 < rest.length) {
          flagVals(body) = rest(i + 1); i += 1
        } else { out.println(s"Unknown or valueless flag: $a"); return usage(out) }
      } else positional += a
      i += 1
    }
    def flag(name: String): Option[String] = flagVals.get(name)
    val platformPath = flag("platform-config")
    // Connect endpoint resolution: explicit flag beats the platform
    // config's connector block; neither → file-transport-only commands
    def connectUrlFor(platform: PlatformCfg): Option[String] =
      flag("connect-url").orElse(
        if (platformPath.isDefined) platform.connector.map(_.connectUrl) else None)

    // only CONFIG LOADING failures are "Validation error"s; runtime
    // failures inside a command (HTTP, bind, sink errors) propagate
    // with their real stack trace instead of masquerading as bad YAML
    def cfgOr(fail: => Int)(body: (PipelineCfg, PlatformCfg) => Int): Int =
      positional.headOption match {
        case None => usage(out)
        case Some(path) =>
          val loaded =
            try Right((PipelineConfigLoader.load(path), PlatformConfigLoader.load(platformPath)))
            catch {
              case e: Exception =>
                out.println(s"Validation error: ${e.getMessage}")
                Left(fail)
            }
          loaded.fold(identity, body.tupled)
      }

    // one lazily-created session for the commands that need one
    lazy val spark = sparkOpt.getOrElse(SparkEntry.session("graft-cli", defaultCpus = 4))

    args.head match {
      case "validate" => cfgOr(1) { (cfg, platform) =>
        out.println(s"Valid — pipeline_id=${cfg.pipelineId}")
        out.println(s"  source: ${cfg.source.sourceType} -> ${cfg.source.database}")
        out.println(s"  tables: ${cfg.source.tables.mkString(", ")}")
        out.println(s"  transport: ${platform.transportMode}")
        platform.kafka.foreach(k => out.println(s"  kafka:  ${k.bootstrapServers}"))
        out.println(s"  platform config: ${platformPath.getOrElse("(defaults)")}")
        if (cfg.sinks.isEmpty) out.println("  sinks:  (none)")
        else {
          out.println(s"  sinks:  ${cfg.sinks.size}")
          cfg.sinks.foreach { s =>
            val status = if (s.enabled) "enabled" else "disabled"
            out.println(s"    - ${s.sinkId} (${s.sinkType}) [$status]")
          }
        }
        0
      }

      case "deploy" => cfgOr(1) { (cfg, platform) =>
        // transport channels first (file-transport analogue of topic
        // creation), then the connector — mirrors provision() which
        // creates topics before registering (`sources/factory.py`)
        val prov = new Provisioner(cfg.sourceDir)
        val created = prov.provision(prov.topicsFor(cfg.topicPrefix, cfg.source.tables))
        if (created.nonEmpty) out.println(s"  channels created: ${created.size}")
        connectUrlFor(platform) match {
          case Some(u) =>
            val client = new DebeziumClient(u)
            val name = ConnectorConfig.connectorName(cfg.topicPrefix, cfg.pipelineId)
            val reg = platform.kafka.map(k => ConnectorConfig.Platform(
              schemaRegistryUrl = k.schemaRegistryUrl,
              bootstrapServers = k.bootstrapServers)).getOrElse(ConnectorConfig.Platform())
            val outcome = client.deploy(name,
              ConnectorConfig.build(cfg.pipelineId, cfg.topicPrefix, cfg.source, reg))
            out.println(s"Provisioned: $name ($outcome)")
          case None =>
            out.println(s"Provisioned: ${cfg.pipelineId} (file transport only; " +
              "no --connect-url)")
        }
        0
      }

      case "undeploy" => cfgOr(1) { (cfg, platform) =>
        connectUrlFor(platform).foreach { u =>
          val client = new DebeziumClient(u)
          val name = ConnectorConfig.connectorName(cfg.topicPrefix, cfg.pipelineId)
          if (client.listConnectors().contains(name)) client.deleteConnector(name)
        }
        out.println(s"Teardown complete: ${cfg.pipelineId}")
        0
      }

      case "health" => cfgOr(1) { (cfg, platform) =>
        val report = PlatformHealth.checkPlatform(cfg, connectUrlFor(platform))
        report.components.foreach { c =>
          out.println(f"  ${c.name}%-30s ${c.status.value}%-10s ${c.detail}")
        }
        if (report.healthy) { out.println("healthy"); 0 }
        else { out.println("UNHEALTHY"); 1 }
      }

      case "consume" => cfgOr(1) { (cfg, _) =>
        // debug console consumer (`cli.py:142-166`): drain available
        // events, print one block per event in transport order. The
        // driver-side collect is the point — this is the human-eyeball
        // path, never a production sink. Its checkpoint is a throwaway
        // temp dir, NEVER the pipeline's: sharing cfg.checkpointDir
        // would mark every file consumed and a later `run` would skip
        // them (the reference consumer uses an isolated consumer group
        // for the same reason, `cli.py:148`).
        out.println("Consuming (file transport)")
        val stream0 = ChangeEnvelope.readStream(spark, cfg.sourceDir, cfg.maxFilesPerTrigger)
        val stream = if (cfg.includeTopics.isEmpty) stream0
          else stream0.filter(col("topic").isin(cfg.includeTopics: _*))
        val q = stream.writeStream
          .option("checkpointLocation",
            java.nio.file.Files.createTempDirectory("graft-consume-ckpt").toString)
          .trigger(Trigger.AvailableNow())
          .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
            batch.orderBy(col("topic"), col("partition"), col("offset"))
              .collect().foreach { r =>
                out.println(s"${r.getAs[String]("topic")} " +
                  s"p=${r.getAs[Int]("partition")} o=${r.getAs[Long]("offset")}")
                Option(r.getAs[String]("key")).foreach(k => out.println(s"  key:   $k"))
                Option(r.getAs[String]("after")).foreach(v => out.println(s"  value: $v"))
              }
          }
          .start()
        q.awaitTermination()
        0
      }

      case "run" => cfgOr(1) { (cfg, platform) =>
        out.println(s"Starting pipeline: ${cfg.pipelineId}")
        cfg.sinks.filter(_.enabled).foreach(s =>
          out.println(s"  sink: ${s.sinkId} (${s.sinkType})"))
        cfg.registry.foreach(r => out.println(s"  registry monitor: ${r.url} " +
          s"(stop_on_incompatible=${r.stopOnIncompatible})"))
        val trigger = if (follow) Trigger.ProcessingTime("1 second")
          else Trigger.AvailableNow()
        val running = PipelineRunner.start(spark, cfg, trigger, Some(platform))
        running.healthPort.foreach(p =>
          out.println(s"  health: http://127.0.0.1:$p/health"))
        try { running.query.awaitTermination(); 0 }
        finally running.stop()
      }

      case _ => usage(out)
    }
  }
}
