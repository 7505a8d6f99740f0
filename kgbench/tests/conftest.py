import os
import sys

# the benchmark imports as the `kgbench` package; the program from the repo root
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))
