import os
import sys

# the repository root, so that ``import perfbench`` works from any cwd
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))
