import os
import sys

# the benchmark and the library it measures are imported from this checkout
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))
