def pytest_configure(config):
    config.addinivalue_line("markers", "smoke: starts Spark sessions through run.py")
