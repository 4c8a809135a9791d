import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
# the benchmark's modules import each other by name, and the workloads
# import the engine's bench.py from the repository root
sys.path[:0] = [BENCH, os.path.dirname(BENCH)]
