#!/bin/bash
# Streaming-layer skew probe: hot-key + time-extended event replay through
# the stateful streaming ops, recording peak state-store rows/bytes —
# proves watermark/timeout eviction bounds state (slope ~ 0 over stream
# length). One-off diagnostic (earlier results in `git show 0a8f65e:CLAUDE.md`).
cd "$(dirname "$0")/.." && exec sbt -batch "runMain graft.StreamStateProbe ${1:-/root/testdata/sf0.1}"
