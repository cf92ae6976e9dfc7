from . import zipcache as _zipcache

# every engine UDF imports this package on a Python worker (zipcache docstring)
_zipcache.install()
