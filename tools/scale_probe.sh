#!/bin/bash
# Empirical scale probe: replicate sf0.1 documents/embeddings by 1/2/4/10x
# into /tmp/graft_scale and measure the headline heavies' scaling slopes.
# One-off diagnostic (earlier results in `git show 0a8f65e:CLAUDE.md`), not part of Bench.
cd "$(dirname "$0")/.." && exec sbt -batch "runMain graft.ScaleProbe ${1:-/root/testdata/sf0.1}"
