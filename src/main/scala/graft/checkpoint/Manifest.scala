package graft.checkpoint

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.core.JsonProcessingException
import com.fasterxml.jackson.databind.{DeserializationFeature, PropertyNamingStrategies}
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** Checkpointed partition manifest for resumable validation runs
  * (north-star requirement: "resumes from a checkpointed manifest of
  * completed Iceberg partitions carrying per-partition lineage
  * (snapshot-id, file list) and metrics").
  *
  * Format: JSONL, one object per completed partition, sorted by
  * partition —
  * `{"partition":"3","rows":N,"violations":M,"pass":true,
  *   "snapshot_id":"...","files":[...],"completed_at_ms":T}`.
  * Each [[commit]] rewrites the whole file atomically (temp file +
  * ATOMIC_MOVE), so a crash mid-write never records a partition whose
  * violations were not fully emitted (SURVEY.md §7.4 hard part 5) — the
  * violations parquet is written (and committed by Spark's output
  * committer) BEFORE the manifest is rewritten.
  *
  * Resume = anti-filter: partitions present in the manifest are skipped;
  * everything else reprocesses. Idempotent because each partition's
  * outputs go to a partition-scoped directory overwritten on rerun.
  */
object Manifest {

  final case class Entry(
      partition: String, rows: Long, violations: Long, pass: Boolean,
      snapshotId: String, files: Seq[String], completedAtMs: Long)

  final case class State(entries: Map[String, Entry]) {
    def isComplete(partition: String): Boolean = entries.contains(partition)
  }

  def empty: State = State(Map.empty)

  // snake_case keeps the on-disk keys (snapshot_id, completed_at_ms);
  // a line missing a key or holding a null is malformed, not a default
  private val mapper = JsonMapper.builder()
    .addModule(DefaultScalaModule)
    .propertyNamingStrategy(PropertyNamingStrategies.SNAKE_CASE)
    .enable(DeserializationFeature.FAIL_ON_MISSING_CREATOR_PROPERTIES)
    .enable(DeserializationFeature.FAIL_ON_NULL_CREATOR_PROPERTIES)
    .build()

  /** Reads the manifest at `path` (empty when the file does not exist).
    * A line that does not parse as an [[Entry]] fails the load with the
    * file and line number: a silently dropped entry would re-validate
    * the partition, a defaulted one would skip it. */
  def load(path: String): State = {
    val p = Paths.get(path)
    if (!Files.exists(p)) return empty
    val entries = Files.readAllLines(p, StandardCharsets.UTF_8).asScala.zipWithIndex
      .filter(_._1.trim.nonEmpty)
      .map { case (line, i) =>
        val e = try mapper.readValue(line, classOf[Entry]) catch {
          case ex: JsonProcessingException =>
            throw new IllegalArgumentException(
              s"malformed manifest entry at $path:${i + 1}: ${ex.getOriginalMessage}", ex)
        }
        e.partition -> e
      }
      .toMap
    State(entries)
  }

  /** Records `entries` as complete (replacing any earlier entry of the
    * same partition) in one atomic rewrite of the manifest. */
  def commit(path: String, entries: Seq[Entry]): Unit = synchronized {
    val merged = load(path).entries ++ entries.map(e => e.partition -> e)
    val p = Paths.get(path)
    Option(p.getParent).foreach(Files.createDirectories(_))
    val tmp: Path = Files.createTempFile(
      Option(p.getParent).getOrElse(Paths.get(".")), ".manifest", ".tmp")
    val body = merged.values.toSeq.sortBy(_.partition)
      .map(mapper.writeValueAsString).mkString("", "\n", "\n")
    Files.write(tmp, body.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, p, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  /** Records one completed partition: a one-entry [[commit]]. */
  def markComplete(
      path: String, partition: String, rows: Long, violations: Long, pass: Boolean,
      snapshotId: String = "", files: Seq[String] = Nil): Unit =
    commit(path, Seq(Entry(partition, rows, violations, pass, snapshotId, files,
      System.currentTimeMillis())))
}
