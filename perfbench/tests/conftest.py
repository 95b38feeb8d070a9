import os
import sys

# the checkout root, so `perfbench` and the engine package import
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))
