package graft.operators

import scala.collection.mutable.ArrayBuffer
import scala.util.matching.Regex

/** Structural markdown chunker — a from-scratch Scala re-expression of
  * qurio's chunker semantics (reference:
  * apps/backend/internal/text/chunker.go:109-188 ChunkMarkdown,
  * :27-38 CleanMarkdownNoise, :43-97 IsNoiseChunk,
  * :191-300 chunkProse, :303-340 chunkCode, :342-352 detectChunkType).
  *
  * Pure string logic — genuinely imperative, so it runs as a typed
  * Dataset flatMap (see ChunkQueries): one pass per document, no
  * shuffle, scales embarrassingly with input splits. Token estimate =
  * chars/4, matching the reference's approximation.
  */
object Chunker {

  final case class Chunk(content: String, chunkType: String, language: String)

  val TypeProse = "prose"
  val TypeCode = "code"
  val TypeApi = "api"
  val TypeConfig = "config"
  val TypeCmd = "cmd"

  private val editLinkRe: Regex = "(?mi)^\\[edit[^\\]]*\\]\\([^\\)]+\\)\\s*$".r
  private val tocRe: Regex =
    "(?mi)^#{1,3}\\s+(?:table of )?contents?\\s*\\n(?:\\s*[-*]\\s*\\[.*?\\]\\(#.*?\\)\\s*\\n)*".r
  private val fenceRe: Regex =
    "(?s)```([a-zA-Z0-9_]+)?\\s*\\n(.*?)\\n\\s*```".r
  private val installRe: Regex =
    "(?i)^\\s*(npm|pnpm|yarn|pip|cargo|brew|apt|go)\\s+(install|add|get|i)\\b.*".r
  private val linkLineRe: Regex = "^\\s*[-*]?\\s*\\[.*?\\]\\(.*?\\)\\s*$".r
  private val headerRe: Regex = "(?m)^#{1,6}\\s".r

  /** Strip "Edit this page" links and auto-generated ToC sections. */
  def cleanMarkdownNoise(text: String): String =
    tocRe.replaceAllIn(editLinkRe.replaceAllIn(text, ""), "")

  /** Conservative low-value-chunk heuristics. */
  def isNoiseChunk(content: String): Boolean = {
    val trimmed = content.trim
    if (trimmed.isEmpty) return true

    val words = trimmed.split("\\s+").filter(_.nonEmpty)
    if (trimmed.length < 30 && words.length <= 3 &&
        !trimmed.contains("```") && !trimmed.contains("\n")) return true

    val nonEmptyLines = trimmed.split("\n").filter(_.trim.nonEmpty)
    if (nonEmptyLines.nonEmpty && nonEmptyLines.length <= 3 &&
        nonEmptyLines.forall(l => installRe.pattern.matcher(l).matches())) return true

    if (nonEmptyLines.length > 2) {
      val linkCount = nonEmptyLines.count(l => linkLineRe.pattern.matcher(l).matches())
      if (linkCount.toDouble / nonEmptyLines.length > 0.7) return true
    }

    val lower = trimmed.toLowerCase
    if ((lower.contains("©") || lower.contains("all rights reserved") ||
         lower.contains("terms of service") || lower.contains("privacy policy")) &&
        trimmed.length < 200) return true

    false
  }

  private def classifyFence(lang: String): String = lang match {
    case "yaml" | "json" | "toml"                    => TypeConfig
    case "bash" | "sh" | "shell"                     => TypeCmd
    case "http" | "graphql" | "openapi" | "swagger"  => TypeApi
    case _                                           => TypeCode
  }

  private[graft] def detectChunkType(content: String): String = {
    val lower = content.toLowerCase
    if (lower.contains("swagger") || lower.contains("openapi")) TypeApi
    else if (lower.contains("endpoint") && lower.contains("method") &&
             (lower.contains("url") || lower.contains("http"))) TypeApi
    else TypeProse
  }

  /** Split markdown into typed chunks: code fences preserved whole
    * (split by lines only when over budget), prose split by
    * headers -> paragraphs -> lines -> words; noise filtered.
    *
    * The noise filter ([[isNoiseChunk]]) runs over the fragments AFTER
    * splitting, as the reference's ChunkMarkdown does (chunker.go:
    * 109-188). So a 1–3-word tail of over-budget prose (or a short
    * header left alone when its first paragraph does not fit beside
    * it) is dropped by design — reference parity, not a merge into
    * its neighbour. */
  def chunkMarkdown(text: String, maxTokens: Int, overlap: Int): Seq[Chunk] = {
    val cleaned = cleanMarkdownNoise(text)
    val out = ArrayBuffer.empty[Chunk]
    var lastIndex = 0

    for (m <- fenceRe.findAllMatchIn(cleaned)) {
      if (m.start > lastIndex) {
        val prose = cleaned.substring(lastIndex, m.start).trim
        if (prose.nonEmpty) out ++= chunkProse(prose, maxTokens, overlap)
      }
      val lang = Option(m.group(1)).getOrElse("")
      val content = m.group(2)
      val cType = classifyFence(lang)
      if (content.length / 4 > maxTokens) out ++= chunkCode(content, lang, cType, maxTokens)
      else out += Chunk(s"```$lang\n$content\n```", cType, lang)
      lastIndex = m.end
    }
    if (lastIndex < cleaned.length) {
      val prose = cleaned.substring(lastIndex).trim
      if (prose.nonEmpty) out ++= chunkProse(prose, maxTokens, overlap)
    }
    out.filterNot(c => isNoiseChunk(c.content)).toSeq
  }

  /** Prose splitting: sections by header, then paragraphs, then
    * lines, then words as a last resort. */
  private[graft] def chunkProse(text: String, maxTokens: Int, overlap: Int): Seq[Chunk] = {
    if (text.isEmpty) return Nil
    val maxChars = maxTokens * 4

    val headerStarts = headerRe.findAllMatchIn(text).map(_.start).toList
    val bounds = (0 :: headerStarts).distinct.sorted :+ text.length
    val sections = bounds.zip(bounds.tail).map { case (a, b) => text.substring(a, b) }

    val chunks = ArrayBuffer.empty[Chunk]
    val current = new StringBuilder

    def flush(): Unit = if (current.nonEmpty) {
      chunks += Chunk(current.toString, detectChunkType(current.toString), "")
      current.clear()
    }

    for (sectionRaw <- sections) {
      val section = sectionRaw.trim
      if (section.nonEmpty) {
        if (section.length <= maxChars) {
          chunks += Chunk(section, detectChunkType(section), "")
        } else {
          for (paraRaw <- section.split("\n\n"); para = paraRaw.trim if para.nonEmpty) {
            if (current.length + para.length + 2 <= maxChars) {
              if (current.nonEmpty) current.append("\n\n")
              current.append(para)
            } else {
              flush()
              if (para.length > maxChars) {
                for (line <- para.split("\n")) {
                  if (current.length + line.length + 1 <= maxChars) {
                    if (current.nonEmpty) current.append("\n")
                    current.append(line)
                  } else {
                    flush()
                    if (line.length > maxChars) {
                      for (word <- line.split("\\s+").filter(_.nonEmpty)) {
                        if (current.length + word.length + 1 <= maxChars) {
                          if (current.nonEmpty) current.append(" ")
                          current.append(word)
                        } else {
                          flush()
                          current.append(word)
                        }
                      }
                    } else current.append(line)
                  }
                }
              } else current.append(para)
            }
          }
          flush()
        }
      }
    }
    chunks.toSeq
  }

  /** Split an over-budget code block by lines, re-fencing each part. */
  private[graft] def chunkCode(content: String, lang: String, cType: String,
                        maxTokens: Int): Seq[Chunk] = {
    val maxChars = maxTokens * 4
    val chunks = ArrayBuffer.empty[Chunk]
    val current = new StringBuilder
    var currentLen = 0

    def emit(): Unit = if (currentLen > 0) {
      chunks += Chunk(s"```$lang\n${current.toString}\n```", cType, lang)
      current.clear(); currentLen = 0
    }

    for (line <- content.split("\n", -1)) {
      val lineLen = line.length + 1
      if (currentLen + lineLen > maxChars && currentLen > 0) emit()
      current.append(line).append("\n")
      currentLen += lineLen
    }
    emit()
    chunks.toSeq
  }
}
