#!/bin/bash
# Mask the run-dependent parts of a `graft.ExplainQuery` log so two builds'
# plans can be diffed: Spark log lines, expression/plan/RDD ids, operator
# numbers, lambda class names and identity hashes, source line numbers and
# temp-dir suffixes. What is left is the plan shape and its expressions.
# Usage:
#   sbt "runMain graft.ExplainQuery all <sfDir>" > a.log   (each build)
#   diff <(tools/explain_mask.sh a.log) <(tools/explain_mask.sh b.log)
grep -v '^\[\|^[0-9][0-9]/[0-9][0-9]/[0-9][0-9] \|WARN\|INFO' "$1" | sed -E \
  -e 's/#[0-9]+L?/#N/g' \
  -e 's/\[id=#?[0-9]+\]/[id=N]/g' \
  -e 's/plan_id=[0-9]+/plan_id=N/g' \
  -e 's/RDD\[[0-9]+\]/RDD[N]/g' \
  -e 's/\(([0-9]+)\)/(k)/g' \
  -e 's/graft_sff[0-9]+/graft_sff/g' \
  -e 's/\$\$\$Lambda\$[0-9]+\/0x[0-9a-f]+@[0-9a-f]+/$$$Lambda/g' \
  -e 's/graft\.(SparkEntry|queries\.[A-Za-z]+Queries)\$\$\$Lambda/REGISTRY$$$Lambda/g' \
  -e 's/\.scala:[0-9]+/.scala:L/g' \
  -e 's/\$@[0-9a-f]+/$@H/g'
