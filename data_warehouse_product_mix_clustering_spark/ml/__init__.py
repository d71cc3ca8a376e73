"""ML stage: standardize → cluster → evaluate (reference M1/M2/M6/M8)."""
