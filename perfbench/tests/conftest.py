import os
import sys

# the checkout root: makes both ``perfbench`` and the engine importable
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))
