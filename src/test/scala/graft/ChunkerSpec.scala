package graft

import graft.operators.{ChunkQueries, Chunker}

class ChunkerSpec extends SparkSpec {

  val md: String =
    """# Guide
      |
      |Some introduction prose about the API that should stay together.
      |
      |```scala
      |val x = spark.read.parquet("data")
      |x.groupBy("k").count()
      |```
      |
      |## Config
      |
      |```yaml
      |key: value
      |nested:
      |  a: 1
      |```
      |
      |Run it with:
      |
      |```bash
      |spark-submit --master local[4] app.jar
      |```
      |""".stripMargin

  test("code fences are preserved whole with language and type") {
    val chunks = Chunker.chunkMarkdown(md, maxTokens = 100, overlap = 0)
    val code = chunks.filter(_.chunkType == Chunker.TypeCode)
    assert(code.exists(_.language == "scala"))
    assert(code.head.content.contains("groupBy"))
    assert(code.head.content.startsWith("```scala\n"))
    assert(chunks.exists(_.chunkType == Chunker.TypeConfig))
    assert(chunks.exists(_.chunkType == Chunker.TypeCmd))
  }

  test("oversized code blocks split by lines, re-fenced") {
    val bigCode = "```python\n" + (1 to 200).map(i => s"line_$i = $i").mkString("\n") + "\n```"
    val chunks = Chunker.chunkMarkdown(bigCode, maxTokens = 50, overlap = 0)
    assert(chunks.length > 1)
    assert(chunks.forall(c => c.chunkType == Chunker.TypeCode && c.language == "python"))
    assert(chunks.forall(c => c.content.startsWith("```python\n") && c.content.endsWith("```")))
    // no content lost
    val joined = chunks.map(_.content.stripPrefix("```python\n").stripSuffix("\n```")).mkString("\n")
    assert((1 to 200).forall(i => joined.contains(s"line_$i = $i")))
  }

  test("prose splits by headers then paragraphs within budget") {
    val prose = (1 to 10).map(i => s"## Section $i\n\n" + ("word " * 100).trim).mkString("\n\n")
    val chunks = Chunker.chunkMarkdown(prose, maxTokens = 200, overlap = 0)
    assert(chunks.length >= 10)
    assert(chunks.forall(_.content.length <= 200 * 4 + 16))
  }

  test("noise cleaning strips edit links and ToC sections") {
    val noisy =
      """[Edit this page](https://github.com/x/y)
        |## Table of Contents
        |- [Intro](#intro)
        |- [Usage](#usage)
        |Real content stays here with enough words to not be a label.
        |""".stripMargin
    val cleaned = Chunker.cleanMarkdownNoise(noisy)
    assert(!cleaned.contains("Edit this page"))
    assert(!cleaned.contains("#intro"))
    assert(cleaned.contains("Real content"))
  }

  test("noise chunks: labels, install commands, link lists, legal") {
    assert(Chunker.isNoiseChunk("Overview"))
    assert(Chunker.isNoiseChunk("npm install foo\npip install bar"))
    assert(Chunker.isNoiseChunk("- [a](x)\n- [b](y)\n- [c](z)\n- [d](w)"))
    assert(Chunker.isNoiseChunk("© 2026 SomeCorp. All rights reserved."))
    assert(!Chunker.isNoiseChunk("This sentence explains how the API works in detail."))
    assert(!Chunker.isNoiseChunk("```\ncode\n```"))
  }

  test("the noise filter runs after splitting: a 1-3-word tail of over-budget prose is dropped, as in the reference") {
    // budget 10 tokens = 40 chars: four 9-letter words fit (39 chars),
    // the fifth starts a new fragment, and the last two words form a
    // 2-word, 19-char fragment the filter judges as noise
    val words = Seq("alphabeta", "gammadelt", "epsilonze", "etathetai",
      "otakappal", "ambdamuxi")
    val text = words.mkString(" ")
    val fragments = Chunker.chunkProse(text, 10, 0).map(_.content)
    assert(fragments == Seq(words.take(4).mkString(" "),
      words.drop(4).mkString(" ")))
    assert(Chunker.chunkMarkdown(text, 10, 0).map(_.content) ==
      Seq(words.take(4).mkString(" ")))
  }

  test("api detection by keyword heuristics") {
    val apiProse = "Endpoint: /v1/users\nMethod: GET\nURL parameters are listed below."
    val chunks = Chunker.chunkMarkdown(apiProse, maxTokens = 100, overlap = 0)
    assert(chunks.nonEmpty && chunks.head.chunkType == Chunker.TypeApi)
  }

  test("c2 dataset flatMap chunks the corpus deterministically") {
    val a = ChunkQueries.c2ChunkMarkdown(spark, sfDir).collect()
    val b = ChunkQueries.c2ChunkMarkdown(spark, sfDir).collect()
    assert(a.length > 0)
    assert(a.map(_.toString).toSeq == b.map(_.toString).toSeq)
  }

  test("c5 stub embeddings are unit-norm 64-dim") {
    val rows = ChunkQueries.c5EmbedChunks(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.take(20).foreach { r =>
      val v = r.getSeq[Double](1)
      assert(v.length == 64)
      val n = math.sqrt(v.map(x => x * x).sum)
      assert(math.abs(n - 1.0) < 1e-3, s"norm $n")
    }
  }
}
