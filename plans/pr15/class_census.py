#!/usr/bin/env python3
"""Count the generated (Janino-compiled) classes a JVM loaded.

    JAVA_TOOL_OPTIONS="-Xlog:class+load=info:file=classload.txt" \\
      python3 perfbench/run.py --workload reference_jobs --seed 3 --trace 0
    python3 plans/pr15/class_census.py classload.txt

Reads a `-Xlog:class+load` log and prints the number of generated-class
loads and their split by class name. Every compiled unit loads the outer
`org.apache.spark.sql.catalyst.expressions.GeneratedClass` and one inner
class (a whole-stage iterator, a projection, a predicate, an ordering), so
a unit the codegen cache serves loads nothing and a recompiled one loads
two classes again. Compare two runs of the same workload and seed: the
difference is the classes one of them compiled and the other did not.
"""
import collections
import re
import sys

loads = collections.Counter()
for line in open(sys.argv[1], errors="replace"):
    m = re.search(r"\[class,load\] (\S*GeneratedClass\S*)", line)
    if m:
        loads[m.group(1)] += 1
print(f"generated-class loads: {sum(loads.values())}")
for name, n in sorted(loads.items(), key=lambda kv: (-kv[1], kv[0])):
    print(f"{n:6d}  {name}")
