package graft

import org.scalatest.funsuite.AnyFunSuite

class SessionSpec extends AnyFunSuite {
  private val MB = 1000L * 1000L
  private val GiB = 1L << 30

  test("initial partitions stay at cpus while the input is small") {
    assert(Session.initialPartitions(4, 17500L * 1000L) === 4) // sf0.1
    assert(Session.initialPartitions(32, 1 * MB) === 32)
  }

  test("initial partitions scale with input at 8x over 64 MiB") {
    assert(Session.initialPartitions(4, 1 * GiB) === 128)
  }

  test("initial partitions are capped at 1024") {
    assert(Session.initialPartitions(4, 100 * GiB) === 1024)
  }
}
