import os
import sys

# the benchmark's modules import each other as top-level names, the way
# perfbench/run.py sees them when run as a script
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
