"""Make the checkout root importable, so ``benchmark`` and the engine
package resolve when the tests run from any directory."""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))
