package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.model.KinesisSinkConfig

/** §1.4 configuration-as-schema: option parsing mirrors
  * getKinesisConfig (logspoutkinesis.go:114-172) including the
  * documented divergences (the dead buffer_size option is not parsed at
  * all, start_interval misspelling — SURVEY §1.4). */
class ConfigSpec extends AnyFunSuite {

  test("defaults mirror the reference exactly") {
    val c = KinesisSinkConfig.fromOptions("s", Map.empty, env = Map.empty)
    assert(c.flushIntervalSec == 1)      // go :131
    assert(c.batchSize == 10)            // go :139
    assert(c.maxAttemptsPerRecord == 10) // go :147
    assert(c.statIntervalSec == 1)       // go :155
    assert(!c.addBlocksWhenBufferFull)   // go :115
    assert(!c.useV0Layout)
    assert(c.dockerHost == "unknown-docker-host") // go :81
  }

  test("options parse; unparsable values fall back to defaults") {
    val c = KinesisSinkConfig.fromOptions("s", Map(
      "batch_size" -> "25", "max_attempts_per_record" -> "3",
      "num_shards" -> "not-a-number", "flush_interval" -> ""),
      env = Map.empty)
    assert(c.batchSize == 25)
    assert(c.maxAttemptsPerRecord == 3)
    assert(c.numShards == 4)        // unparsable -> default
    assert(c.flushIntervalSec == 1) // empty -> default
  }

  test("accepts both the reference's misspelled start_interval and stat_interval") {
    val a = KinesisSinkConfig.fromOptions("s",
      Map("start_interval" -> "7"), env = Map.empty)
    val b = KinesisSinkConfig.fromOptions("s",
      Map("stat_interval" -> "9"), env = Map.empty)
    assert(a.statIntervalSec == 7)
    assert(b.statIntervalSec == 9)
  }

  test("env vars: LK_DOCKER_HOST and LK_USE_V0_LAYOUT (go :81,:84-87)") {
    val c = KinesisSinkConfig.fromOptions("s", Map.empty,
      env = Map("LK_DOCKER_HOST" -> "h9", "LK_USE_V0_LAYOUT" -> "1"))
    assert(c.dockerHost == "h9")
    assert(c.useV0Layout)
  }
}
