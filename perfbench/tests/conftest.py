import os
import sys

# the benchmark's modules are top-level scripts in perfbench/, and they
# import the library from the repository root
HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [HERE, os.path.dirname(HERE)]
