#!/bin/bash
# Replay the conformance corpus through graft.tools.ProbeSql without sbt.
# Usage: tools/run_probe.sh <corpus.tsv> <out.tsv>
exec "$(dirname "$0")/run_main.sh" graft.tools.ProbeSql "$@"
