#!/bin/bash
# Adversarial-skew scale probe: 90%-one-lang corpus with corpus-spanning
# duplicate cliques (text + embedding), replicated x1/x4/x10 into
# /tmp/graft_skew; measures d11/m01/e09/s04 slopes under skew.
# One-off diagnostic (earlier results in `git show 0a8f65e:CLAUDE.md`), not part of Bench.
cd "$(dirname "$0")/.." && exec sbt -batch "runMain graft.SkewProbe ${1:-/root/testdata/sf0.1}"
